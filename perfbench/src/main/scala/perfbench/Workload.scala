package perfbench

import java.nio.file.{Files, Path, StandardCopyOption}
import java.nio.file.attribute.FileTime

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types.StructType

/** One benchmark workload: seeded inputs, a closed loop of units that
  * drives the engine through its public API, and checks of its outputs.
  * The engine only ever sees the inputs the workload generates. */
trait Workload {
  /** The input properties, printed once per run. */
  def properties: Seq[(String, Any)]
  /** Generate inputs and run a first unit. */
  def setup(): Unit
  /** A fixed number of untimed units before the measured region. */
  def warm(u: Units): Unit
  /** Run units until `seconds` of timed work have passed. */
  def run(seconds: Double, u: Units, tracer: Tracer): Unit
  /** Check every output the timed and warm-up units produced. */
  def checks(): Seq[Check]
  /** This workload's per-layer metrics over the traced region. */
  def layerMetrics(u: Units, tracer: Tracer, obs: Observers): Map[String, Double]
}

object Workload {
  val Names = Seq("consume_merge", "poll_outbox", "curate_corpus")

  def apply(name: String, spark: SparkSession, dir: Path, seed: Long): Workload =
    name match {
      case "consume_merge" => new ConsumeMerge(spark, dir, seed)
      case "poll_outbox" => new PollOutbox(spark, dir, seed)
      case "curate_corpus" => new CurateCorpus(spark, dir, seed)
      case other => throw new IllegalArgumentException(
        s"unknown workload $other (known: ${Names.mkString(", ")})")
    }

  /** Write `rows` as exactly one parquet file at `dest`, stamped with
    * `mtimeMs` so a file stream source picks files up in that order.
    * Spark writes it under `stage` first, outside any directory a
    * stream is listing. */
  def writeParquetFile(spark: SparkSession, rows: Seq[Row], schema: StructType,
      dest: Path, stage: Path, mtimeMs: Long): Unit = {
    val tmp = stage.resolve(dest.getFileName.toString)
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
      .coalesce(1).write.mode("overwrite").parquet(tmp.toString)
    val part = {
      val s = Files.list(tmp)
      try s.filter(p => p.getFileName.toString.endsWith(".parquet")).findFirst().get
      finally s.close()
    }
    Files.move(part, dest, StandardCopyOption.ATOMIC_MOVE)
    Files.setLastModifiedTime(dest, FileTime.fromMillis(mtimeMs))
    Out.deleteTree(tmp)
  }
}
