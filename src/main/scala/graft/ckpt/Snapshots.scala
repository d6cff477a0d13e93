package graft.ckpt

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import java.nio.file.{Files, Paths, Path}
import scala.jdk.CollectionConverters._

/** Stage checkpointing with snapshot semantics + per-partition lineage and
  * counters (north_rule: "checkpoints each stage to Iceberg snapshot tables
  * with per-partition lineage and counters, resumes from the last committed
  * snapshot").
  *
  * No Iceberg jars ship in this sandbox image, so the same semantics are
  * implemented over parquet directories with atomically-committed JSON
  * manifests: a snapshot is `root/<stage>/snap-<id>/` holding the parquet
  * data plus `_MANIFEST.json` with the stage name, the input snapshot ids it
  * was derived from (lineage), and per-partition-file row counters. A
  * snapshot is visible only after its manifest is moved into place
  * (write-temp + atomic rename = the Iceberg commit). Swapping this file for
  * `df.writeTo(table).createOrReplace()` + snapshot metadata is a one-module
  * change on a cluster with the Iceberg runtime.
  */
object Snapshots {

  final case class Manifest(
      stage: String,
      snapshotId: Long,
      inputs: Seq[String], // lineage: "<stage>:<snapshotId>" of upstream stages
      rows: Long,
      partitions: Seq[(String, Long)]) // per-partition-file row counters

  private def jstr(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
      case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
    } + "\""

  private def render(m: Manifest): String = {
    val parts = m.partitions.map { case (f, n) => s"[${jstr(f)}, $n]" }.mkString(",")
    s"""{"stage": ${jstr(m.stage)}, "snapshot_id": ${m.snapshotId}, "inputs": [${m.inputs.map(jstr).mkString(",")}], "rows": ${m.rows}, "partitions": [$parts]}"""
  }

  private def parse(s: String): Manifest = {
    // minimal parser for the shape we render (no external json lib)
    def field(name: String): String = {
      val i = s.indexOf("\"" + name + "\"")
      require(i >= 0, s"missing $name")
      s.substring(s.indexOf(':', i) + 1)
    }
    val stage = field("stage").trim.drop(1).takeWhile(_ != '"')
    val id = field("snapshot_id").trim.takeWhile(c => c.isDigit).toLong
    val rows = field("rows").trim.takeWhile(c => c.isDigit).toLong
    val inputsRaw = field("inputs").trim.drop(1).takeWhile(_ != ']')
    val inputs =
      if (inputsRaw.trim.isEmpty) Seq.empty[String]
      else inputsRaw.split(",").map(_.trim.stripPrefix("\"").stripSuffix("\"")).toSeq
    Manifest(stage, id, inputs, rows, Seq.empty) // partitions not needed on read path
  }

  private def stageDir(root: String, stage: String): Path = Paths.get(root, stage)

  /** latest committed snapshot of a stage, if any. */
  def latest(spark: SparkSession, root: String, stage: String): Option[(String, Manifest)] = {
    val dir = stageDir(root, stage)
    if (!Files.isDirectory(dir)) return None
    val snaps = Files.list(dir).iterator().asScala
      .filter(p => p.getFileName.toString.startsWith("snap-"))
      .filter(p => Files.exists(p.resolve("_MANIFEST.json")))
      .toSeq
      .sortBy(_.getFileName.toString.stripPrefix("snap-").toLong)
    snaps.lastOption.map { p =>
      (p.toString, parse(Files.readString(p.resolve("_MANIFEST.json"))))
    }
  }

  /** Write a new committed snapshot of `df` for `stage`, recording lineage
    * and per-partition-file counters. Returns (path, manifest). */
  def commit(df: DataFrame, root: String, stage: String,
      inputs: Seq[String] = Seq.empty): (String, Manifest) = {
    val spark = df.sparkSession
    val id = latest(spark, root, stage).map(_._2.snapshotId + 1).getOrElse(0L)
    val dir = stageDir(root, stage).resolve(s"snap-$id")
    df.write.mode("overwrite").parquet(dir.toString)
    // Per-partition lineage/counters from the committed files themselves.
    // Read from the parquet FOOTERS (driver-side metadata, the numbers the
    // writer already recorded) instead of the previous full re-scan
    // aggregation — that launched one extra Spark job per commit, charged
    // to every incremental/streaming query body that commits snapshots.
    // Counter values are byte-identical to the scan's (footer row counts
    // are exact).
    val counters = footerRowCounts(spark, dir.toString)
    val m = Manifest(stage, id, inputs, counters.map(_._2).sum, counters)
    val tmp = dir.resolve("_MANIFEST.json.tmp")
    Files.writeString(tmp, render(m))
    Files.move(tmp, dir.resolve("_MANIFEST.json"),
      java.nio.file.StandardCopyOption.ATOMIC_MOVE) // the commit point
    (dir.toString, m)
  }

  /** Row count of each parquet file in `dir`, sorted by file name, from
    * the file footers: driver-side metadata, no Spark job. */
  private[graft] def footerRowCounts(spark: SparkSession, dir: String): Seq[(String, Long)] =
    Files.list(Paths.get(dir)).iterator().asScala
      .filter(_.getFileName.toString.endsWith(".parquet"))
      .map { p =>
        val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
          new org.apache.hadoop.fs.Path(p.toUri),
          spark.sparkContext.hadoopConfiguration)
        val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
        try (p.getFileName.toString, r.getRecordCount) finally r.close()
      }
      .toSeq.sortBy(_._1)

  /** Full commit history of a stage, oldest first (Iceberg's `.snapshots`
    * metadata table). Only committed snapshots (manifest in place) appear. */
  def history(spark: SparkSession, root: String, stage: String): Seq[Manifest] = {
    val dir = stageDir(root, stage)
    if (!Files.isDirectory(dir)) return Seq.empty
    Files.list(dir).iterator().asScala
      .filter(p => p.getFileName.toString.startsWith("snap-"))
      .filter(p => Files.exists(p.resolve("_MANIFEST.json")))
      .toSeq
      .sortBy(_.getFileName.toString.stripPrefix("snap-").toLong)
      .map(p => parse(Files.readString(p.resolve("_MANIFEST.json"))))
  }

  /** Time travel (Iceberg `VERSION AS OF`): read one committed snapshot by
    * id. Committed data is immutable, so this is just a parquet read of the
    * snapshot directory. */
  def readAt(spark: SparkSession, root: String, stage: String,
      snapshotId: Long): Option[DataFrame] = {
    val dir = stageDir(root, stage).resolve(s"snap-$snapshotId")
    if (Files.exists(dir.resolve("_MANIFEST.json")))
      Some(spark.read.parquet(dir.toString))
    else None
  }

  /** Rollback (Iceberg `rollback_to_snapshot`): make `snapshotId` current
    * again by committing a NEW snapshot that re-exposes its data, with
    * lineage recording the rollback source. History is never rewritten —
    * the bad snapshots stay readable via [[readAt]], exactly like Iceberg's
    * metadata-pointer rollback. */
  def rollback(spark: SparkSession, root: String, stage: String,
      snapshotId: Long): (String, Manifest) = {
    val df = readAt(spark, root, stage, snapshotId).getOrElse(
      throw new IllegalArgumentException(
        s"no committed snapshot $stage/snap-$snapshotId under $root"))
    commit(df, root, stage, inputs = Seq(s"rollback:$stage:$snapshotId"))
  }

  /** Resume-or-compute: if a committed snapshot exists whose lineage matches
    * `inputs`, read it back; otherwise compute, commit, and return. The
    * returned token "<stage>:<id>" feeds downstream stages' lineage. */
  def resumeOrRun(spark: SparkSession, root: String, stage: String,
      inputs: Seq[String])(build: => DataFrame): (DataFrame, String) = {
    latest(spark, root, stage) match {
      case Some((path, m)) if m.inputs == inputs =>
        (spark.read.parquet(path), s"$stage:${m.snapshotId}")
      case _ =>
        val (path, m) = commit(build, root, stage, inputs)
        (spark.read.parquet(path), s"$stage:${m.snapshotId}")
    }
  }
}
