package graft.tableio

import com.fasterxml.jackson.databind.JsonNode
import com.fasterxml.jackson.databind.json.JsonMapper
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
  *                                write task, read schema, inputs
  *     snapshots/CURRENT          file containing the committed version
  *
  * Commit protocol: data is written fully, the manifest is written to a temp
  * file, then CURRENT is replaced by atomic move — readers see either the old
  * or the new snapshot, never a partial one, and a rerun never corrupts a
  * committed snapshot. A commit costs one Spark job, the write: its row
  * figures come from the committed files' Parquet footers (an Iceberg
  * manifest's `record_count`), and a read takes its schema from the
  * manifest, so neither reads nor the audit (ckpt.StageLog) start a job.
  *
  * Resume rule: every resume point (`KgPipeline.run`'s stages, CC's labels,
  * the trainers' optimizer state) passes `resumable` before it reads
  * committed state, so state computed from other inputs fails loudly.
  */
object TableIO {

  /** @param taskRows rows written per write task (task id = the
    *   `part-NNNNN` number, summed over partition directories).
    * @param schemaJson the schema the snapshot reads back as: data columns,
    *   then partition columns.
    * @param inputs what the snapshot was computed from.
    */
  case class Snapshot(version: Long, dataDir: String, rows: Long, schemaJson: String,
                      taskRows: Map[Int, Long], inputs: Map[String, String]) {
    def schema: StructType = DataType.fromJson(schemaJson).asInstanceOf[StructType]
  }

  private def snapDir(table: String): Path = Paths.get(table, "snapshots")

  def currentVersion(table: String): Option[Long] = {
    val cur = snapDir(table).resolve("CURRENT")
    if (Files.exists(cur)) Some(Files.readString(cur).trim.toLong) else None
  }

  def current(table: String): Snapshot =
    readSnapshot(table, currentVersion(table).getOrElse(sys.error(s"no committed snapshot in $table")))

  private val json = JsonMapper.builder().build()

  /** The manifest of `version`; fails, naming the manifest and the field,
    * when a field is missing.
    */
  def readSnapshot(table: String, version: Long): Snapshot = {
    val path = snapDir(table).resolve(s"v$version.json")
    val m = json.readTree(path.toFile)
    def field(name: String): JsonNode =
      Option(m.get(name)).getOrElse(sys.error(s"manifest $path: field $name missing"))
    def obj(name: String): Map[String, JsonNode] =
      field(name).properties().asScala.map(e => e.getKey -> e.getValue).toMap
    Snapshot(field("version").asLong, field("dataDir").asText, field("rows").asLong, field("schema").asText,
      obj("taskRows").map { case (t, n) => t.toInt -> n.asLong }, obj("inputs").map { case (k, v) => k -> v.asText })
  }

  /** SHA-256, in hex, of named values in name order. */
  def fingerprint(values: Iterable[(String, String)]): String = {
    val sha = java.security.MessageDigest.getInstance("SHA-256")
    values.toSeq.sorted.foreach { case (k, v) => sha.update(s"${k.length}:$k${v.length}:$v".getBytes("UTF-8")) }
    java.util.HexFormat.of().formatHex(sha.digest())
  }

  /** The fingerprint of a file tree's listing (each file's relative path and size): no Spark job. */
  def listingFingerprint(root: String): String = fingerprint(Using.resource(Files.walk(Paths.get(root))) {
    _.iterator().asScala.filter(Files.isRegularFile(_))
      .map(p => Paths.get(root).relativize(p).toString -> Files.size(p).toString).toSeq
  })

  /** The one resume rule: false when `table` has no committed snapshot, true
    * when its current one was committed from exactly `inputs`, and otherwise
    * (a manifest that records none included) fails, naming `what` and the
    * first input that differs. It reads manifests only: no Spark job.
    */
  def resumable(table: String, inputs: Map[String, String], what: String): Boolean = currentVersion(table).isDefined && {
    val recorded = current(table).inputs
    for (k <- (recorded.keySet ++ inputs.keySet).toSeq.sorted.find(k => recorded.get(k) != inputs.get(k)))
      throw new IllegalArgumentException(s"$what was committed from other inputs: $k is ${recorded.getOrElse(k,
        "unrecorded")} there but ${inputs.getOrElse(k, "unused")} now; a stale or foreign checkpoint at $table")
    true
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
  def commit(df: DataFrame, table: String, partitionBy: Seq[String] = Nil,
             inputs: Map[String, String] = Map.empty): Snapshot = {
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
      StructType(fields.map(_.copy(nullable = true))).json, taskRows, inputs)
    // fields in a fixed order and both objects key-sorted, so the bytes are
    // a function of the snapshot
    val manifest = json.createObjectNode().put("version", version).put("dataDir", dataDir).put("rows", snap.rows)
    taskRows.toSeq.sorted.foldLeft(manifest.putObject("taskRows")) { case (o, (t, n)) => o.put(t.toString, n) }
    manifest.put("schema", snap.schemaJson)
    inputs.toSeq.sorted.foldLeft(manifest.putObject("inputs")) { case (o, (k, v)) => o.put(k, v) }
    Files.createDirectories(snapDir(table))
    val tmp = Files.createTempFile(snapDir(table), "manifest", ".tmp")
    Files.writeString(tmp, json.writeValueAsString(manifest))
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
