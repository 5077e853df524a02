package graft.tableio

import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.io.LocalInputFile
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.{DataType, StructType}
import scala.jdk.CollectionConverters._
import scala.util.Using

/** Iceberg-style table layer: partitioned Parquet data files + a JSON
  * snapshot commit log with atomic-rename commits (SURVEY.md §7.0 — no
  * Iceberg runtime jar ships offline, so this emulates the snapshot/manifest
  * behavior behind a small API that a real Iceberg catalog could replace).
  *
  * Layout:
  *   table/
  *     data/snap-<v>/...          partitioned parquet for snapshot v
  *     snapshots/v<v>.json        manifest: data dir, row count, rows per
  *                                write task, read schema
  *     snapshots/CURRENT          file containing the committed version
  *
  * Commit protocol: data is written fully, the manifest is written to a temp
  * file, then CURRENT is replaced by atomic move — readers see either the old
  * or the new snapshot, never a partial one. Re-running a failed job never
  * corrupts a committed snapshot (idempotent writes, north-star
  * resumability).
  *
  * A commit costs one Spark job, the write. Its row figures come from the
  * committed files' Parquet footers, read on the driver — the analog of an
  * Iceberg manifest's per-data-file `record_count` — and a read takes its
  * schema from the manifest, so neither reads nor the audit built on the
  * manifest (ckpt.StageLog) start a job.
  */
object TableIO {

  /** @param taskRows rows written per write task (task id = the
    *   `part-NNNNN` number, summed over partition directories); None for a
    *   manifest written before the field existed.
    * @param schemaJson the schema the snapshot reads back as: data columns,
    *   then partition columns.
    */
  case class Snapshot(version: Long, dataDir: String, rows: Long, schemaJson: String,
                      taskRows: Option[Map[Int, Long]]) {
    def schema: StructType = DataType.fromJson(schemaJson).asInstanceOf[StructType]
  }

  private def snapDir(table: String): Path = Paths.get(table, "snapshots")

  def currentVersion(table: String): Option[Long] = {
    val cur = snapDir(table).resolve("CURRENT")
    if (Files.exists(cur)) Some(Files.readString(cur).trim.toLong) else None
  }

  def current(table: String): Snapshot =
    readSnapshot(table, currentVersion(table).getOrElse(sys.error(s"no committed snapshot in $table")))

  def readSnapshot(table: String, version: Long): Snapshot = {
    val txt = Files.readString(snapDir(table).resolve(s"v$version.json"))
    // minimal JSON codec (fields are under our control; the one nested value
    // is the flat taskRows object of integer keys and values)
    def field(name: String): String = {
      val m = ("\"" + name + "\"\\s*:\\s*(\"(?:[^\"\\\\]|\\\\.)*\"|\\d+)").r
        .findFirstMatchIn(txt).getOrElse(sys.error(s"manifest field $name missing"))
      val v = m.group(1)
      if (v.startsWith("\"")) v.substring(1, v.length - 1).replace("\\\"", "\"").replace("\\\\", "\\")
      else v
    }
    val taskRows = "\"taskRows\"\\s*:\\s*\\{([^}]*)\\}".r.findFirstMatchIn(txt).map { m =>
      "\"(\\d+)\"\\s*:\\s*(\\d+)".r.findAllMatchIn(m.group(1))
        .map(e => e.group(1).toInt -> e.group(2).toLong).toMap
    }
    Snapshot(field("version").toLong, field("dataDir"), field("rows").toLong, field("schema"), taskRows)
  }

  private val PartFile = """part-(\d+)-.*\.parquet""".r

  /** Rows per write task of the Parquet files under `dataDir`, from their
    * footers. The committer moves only committed task attempts' files into
    * `dataDir`, so the figure is exact under speculation as well.
    */
  private def footerTaskRows(dataDir: String): Map[Int, Long] =
    Using.resource(Files.walk(Paths.get(dataDir))) { paths =>
      paths.iterator().asScala.flatMap { p =>
        p.getFileName.toString match {
          case PartFile(task) =>
            val n = Using.resource(ParquetFileReader.open(new LocalInputFile(p)))(_.getRecordCount)
            Some(task.toInt -> n)
          case _ => None
        }
      }.toSeq
    }.groupMapReduce(_._1)(_._2)(_ + _)

  /** Commit `df` as the next snapshot of `table`. Returns the snapshot.
    *
    * Crash-idempotency: a job that died after writing v<N>.json but before
    * updating CURRENT leaves an orphaned manifest; the next version is
    * therefore max(all manifests, CURRENT) + 1 so a rerun skips the orphan
    * instead of colliding with it, and the manifest move itself is
    * REPLACE_EXISTING (contents are regenerated deterministically) so even a
    * same-version retry can never wedge the table (ADVICE.md round 1).
    */
  def commit(df: DataFrame, table: String, partitionBy: Seq[String] = Nil): Snapshot = {
    val version =
      (currentVersion(table).toSeq ++ versions(table)).reduceOption(_ max _).map(_ + 1).getOrElse(0L)
    val dataDir = s"$table/data/snap-$version"
    val writer = df.write.mode("overwrite")
    (if (partitionBy.nonEmpty) writer.partitionBy(partitionBy: _*) else writer).parquet(dataDir)
    val taskRows = footerTaskRows(dataDir)
    // the schema a file scan returns: nullable columns, partition columns
    // last in directory-nesting order
    val fields = df.schema.filterNot(f => partitionBy.contains(f.name)) ++ partitionBy.map(df.schema(_))
    val snap = Snapshot(version, dataDir, taskRows.values.sum,
      StructType(fields.map(_.copy(nullable = true))).json, Some(taskRows))
    def esc(s: String) = s.replace("\\", "\\\\").replace("\"", "\\\"")
    val tasks = taskRows.toSeq.sorted.map { case (t, n) => s""""$t": $n""" }.mkString(", ")
    val manifest = s"""{"version": $version, "dataDir": "${esc(dataDir)}", "rows": ${snap.rows}, """ +
      s""""taskRows": {$tasks}, "schema": "${esc(snap.schemaJson)}"}"""
    Files.createDirectories(snapDir(table))
    val tmp = Files.createTempFile(snapDir(table), "manifest", ".tmp")
    Files.writeString(tmp, manifest)
    Files.move(tmp, snapDir(table).resolve(s"v$version.json"),
      StandardCopyOption.ATOMIC_MOVE, StandardCopyOption.REPLACE_EXISTING)
    val curTmp = Files.createTempFile(snapDir(table), "current", ".tmp")
    Files.writeString(curTmp, version.toString)
    Files.move(curTmp, snapDir(table).resolve("CURRENT"),
      StandardCopyOption.ATOMIC_MOVE, StandardCopyOption.REPLACE_EXISTING)
    snap
  }

  /** S9: prediction TSV sink — the reference emits its prediction files as
    * tab-separated text (test_pred_* outputs, relembed.py:616-625 era
    * tooling); distributed writers emit one shard per partition like any
    * text sink.
    */
  def writeTsv(df: DataFrame, path: String): Unit =
    df.write.mode("overwrite")
      .option("sep", "\t").option("header", "true")
      .csv(path)

  /** Read the current committed snapshot (partition pruning + pushdown apply
    * as with any parquet scan; partition columns come back from dir layout).
    * The manifest's schema spares the scan Spark's schema-inference job.
    */
  def read(spark: SparkSession, table: String): DataFrame = scan(spark, current(table))

  /** List all snapshot versions (time travel). */
  def versions(table: String): Seq[Long] =
    if (!Files.exists(snapDir(table))) Nil
    else Files.list(snapDir(table)).iterator().asScala
      .map(_.getFileName.toString)
      .collect { case s if s.startsWith("v") && s.endsWith(".json") =>
        s.stripPrefix("v").stripSuffix(".json").toLong }
      .toSeq.sorted

  def readVersion(spark: SparkSession, table: String, version: Long): DataFrame =
    scan(spark, readSnapshot(table, version))

  private def scan(spark: SparkSession, snap: Snapshot): DataFrame =
    spark.read.schema(snap.schema).parquet(snap.dataDir)
}
