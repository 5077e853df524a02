package perfbench

import java.nio.file.{Files, Path}
import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session, configured as a benchmark run configures it. */
trait BenchSuite extends AnyFunSuite with BeforeAndAfterAll {
  val cores = 2
  lazy val work: Path = Files.createTempDirectory("perfbench-test")
  lazy val spark: SparkSession = Main.session(cores, work)

  override def afterAll(): Unit = {
    spark.stop()
    Workloads.deleteTree(work)
  }
}
