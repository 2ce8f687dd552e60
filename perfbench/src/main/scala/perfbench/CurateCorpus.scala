package perfbench

import java.nio.file.{Files, Path}
import java.util.SplittableRandom

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.ext.{CurationRunner, Dedup}
import graft.functions.{HashFunctions, TextFunctions}

/** `curate_corpus`: [EXT] curation. A seeded text corpus (about 60
  * tokens per document from a 5000-word vocabulary, with planted families
  * of exact copies and of copies with 1–6 tokens edited) arrives in equal
  * increments, one parquet file each; every increment is fingerprinted
  * (simhash64 of token hashes) and folded into the survivor store with
  * `CurationRunner.applyIncrement` (`maxHamming=3`, default cap). One
  * `Dedup.curateOneShot` runs over the increments of set-up and warm-up,
  * and both outputs are checked.
  *
  * `applyIncrement` rewrites the whole survivor snapshot, so an
  * increment costs more as the store grows. Set-up and warm-up apply a
  * fixed number of increments, and every timed unit applies the next
  * increment file to the store they leave: the first unit copies that
  * store aside, each later one restores the copy first (outside the
  * clock). Every unit then does the same work, however many a region
  * runs, and no region's speed changes the store another one starts on. */
final class CurateCorpus(spark: SparkSession, dir: Path, seed: Long) extends Workload {
  private val Vocab = 5000
  private val DocTokens = 60
  private val IncrementDocs = 2000
  private val CopyShare = 0.10
  private val ExactShareOfCopies = 0.5
  private val BaseShareOfFresh = 0.2
  private val SetupIncrements = 1
  private val WarmIncrements = 2
  /** The one-shot input: the increments applied before the first region. */
  private val OneShotIncrements = SetupIncrements + WarmIncrements

  private val schema = StructType(Seq(StructField("doc_id", LongType),
    StructField("text", StringType), StructField("quality", LongType)))
  private val incDir = dir.resolve("increments")
  private val stageDir = dir.resolve("stage")
  private val storeDir = dir.resolve("store").toString
  private val markDir = dir.resolve("store-at-region-start")

  private val rng = new SplittableRandom(seed)
  private val vocab: Array[String] = {
    val r = new SplittableRandom(seed ^ 0x9E3779B97F4A7C15L)
    val seen = mutable.HashSet[String]()
    while (seen.size < Vocab)
      seen += Iterator.fill(3 + r.nextInt(6))(('a' + r.nextInt(26)).toChar).mkString
    seen.toArray.sorted
  }

  /** Recent family bases: (doc id, tokens). */
  private val bases = ArrayBuffer[(Long, Array[String])]()
  /** Base doc id → ids of its exact copies. */
  private val exactFamilies = mutable.LongMap[ArrayBuffer[Long]]()
  private var nearCopies = 0L
  private var exactCopies = 0L
  /** Increment files generated so far; file `i` holds doc ids
    * `[i * IncrementDocs, (i + 1) * IncrementDocs)`. */
  private val files = ArrayBuffer[Path]()
  /** Increments in the store; the next one applies file `applied`. */
  private var applied = 0
  /** `applied` under every timed unit, once the first has started. */
  private var unitBase = -1
  private var oneShot: Array[Row] = null

  private def docs(increments: Int): Long = increments.toLong * IncrementDocs

  def properties: Seq[(String, Any)] = Seq(
    "vocab" -> Vocab, "tokens_per_doc" -> s"${DocTokens - 5}..${DocTokens + 5}",
    "increment_docs" -> IncrementDocs, "copy_share" -> CopyShare,
    "exact_share_of_copies" -> ExactShareOfCopies,
    "store_docs_at_unit_start" -> docs(OneShotIncrements),
    "oneshot_docs" -> docs(OneShotIncrements), "docs_generated" -> docs(files.size),
    "docs_in_store" -> docs(applied),
    "families_with_exact_copies" -> exactFamilies.count(_._2.nonEmpty),
    "exact_copies" -> exactCopies, "near_copies" -> nearCopies)

  private def freshTokens(): Array[String] =
    Array.fill(DocTokens - 5 + rng.nextInt(11))(vocab(rng.nextInt(Vocab)))

  /** The next increment's documents. A copy's quality sits below every
    * fresh document's, so a family's base always wins its group. */
  private def nextIncrement(): Unit = {
    val rows = ArrayBuffer[Row]()
    for (i <- 0 until IncrementDocs) {
      val id = docs(files.size) + i
      if (bases.nonEmpty && rng.nextDouble() < CopyShare) {
        val (baseId, toks) = bases(rng.nextInt(bases.size))
        val copy = toks.clone()
        if (rng.nextDouble() < ExactShareOfCopies) {
          exactFamilies.getOrElseUpdate(baseId, ArrayBuffer()) += id
          exactCopies += 1
        } else {
          (0 until 1 + rng.nextInt(6)).foreach(_ =>
            copy(rng.nextInt(copy.length)) = vocab(rng.nextInt(Vocab)))
          nearCopies += 1
        }
        rows += Row(id, copy.mkString(" "), rng.nextLong(1000000L))
      } else {
        val toks = freshTokens()
        if (rng.nextDouble() < BaseShareOfFresh) {
          bases += ((id, toks))
          if (bases.size > 2000) bases.remove(0)
        }
        rows += Row(id, toks.mkString(" "), 1000000L + rng.nextLong(1000000L))
      }
    }
    val dest = incDir.resolve(f"inc-${files.size}%05d.parquet")
    Workload.writeParquetFile(spark, rows.toSeq, schema, dest, stageDir, 0L)
    files += dest
  }

  /** (doc_id, ph, quality): the fingerprinted documents of `df`. */
  private def fingerprint(df: DataFrame): DataFrame =
    df.select(col("doc_id"),
      HashFunctions.simhash64(HashFunctions.tokenHashes(TextFunctions.tokens(col("text")))).as("ph"),
      col("quality"))

  private def increment(u: Units, tracer: Tracer): Unit = {
    while (files.size <= applied) nextIncrement()
    val file = files(applied)
    val clock = new Clock
    val w0 = System.currentTimeMillis()
    val t0 = System.nanoTime()
    clock.start()
    val ok = tracer.unit("curate.increment") {
      tracer.span("ext.applyIncrement") {
        CurationRunner.applyIncrement(storeDir, fingerprint(spark.read.parquet(file.toString)),
          applied.toLong, "doc_id", "ph", "quality")
      }
    }
    clock.stopInto(u)
    u.latencies += (System.nanoTime() - t0) / 1e9
    u.windows += ((w0, System.currentTimeMillis()))
    applied += 1
    u.attempted += 1
    u.messages += IncrementDocs
    u.valid += IncrementDocs
    if (ok) u.records += IncrementDocs else u.failed += 1
  }

  def setup(): Unit = {
    Seq(incDir, stageDir).foreach(Files.createDirectories(_))
    (0 until SetupIncrements).foreach(_ => increment(new Units, new Tracer(false)))
  }

  def warm(u: Units): Unit =
    (0 until WarmIncrements).foreach(_ => increment(u, new Tracer(false)))

  /** Increments until `seconds` of timed work, each onto the store
    * set-up and warm-up left. Files are written, and the store copied or
    * restored, outside the clock. */
  def run(seconds: Double, u: Units, tracer: Tracer): Unit = {
    val wall0 = u.wallS
    while (u.wallS - wall0 < seconds) {
      if (unitBase < 0) {
        unitBase = applied
        Out.copyTree(Path.of(storeDir), markDir)
      } else if (applied != unitBase) {
        Out.deleteTree(Path.of(storeDir))
        Out.copyTree(markDir, Path.of(storeDir))
        applied = unitBase
      }
      increment(u, tracer)
    }
  }

  /** The one-shot pass over the increments of set-up and warm-up, run
    * once after the last region: a fixed input, so its time does not
    * depend on how much the regions ingested. A single ~3 s operation
    * made the timed throughput unsteady, so its time is the traced
    * `ext.oneshot_s`. */
  private def oneShotPass(tracer: Tracer): Array[Row] = {
    if (oneShot == null) oneShot = tracer.span("ext.curateOneShot") {
      val input = spark.read.parquet(files.take(OneShotIncrements).map(_.toString).toSeq: _*)
      Dedup.curateOneShot(fingerprint(input), "doc_id", "ph", "quality")
        .select("doc_id", "ph", "n_copies").collect()
    }
    oneShot
  }

  def checks(): Seq[Check] = {
    val store = CurationRunner.survivors(spark, storeDir, "doc_id", "ph", "quality")
      .select("doc_id", "ph", "n_copies").collect()
    /** Checks of a survivor set over the documents with id < `limit`. */
    def checksOf(name: String, surv: Array[Row], limit: Long): Seq[Check] = {
      val ids = surv.map(_.getLong(0))
      val idSet = ids.toSet
      val copies = surv.map(_.getLong(2)).sum
      val dupHash = surv.length - surv.map(_.getLong(1)).distinct.length
      val badFamilies = exactFamilies.count { case (base, cs) =>
        val members = (base +: cs.toSeq).filter(_ < limit)
        members.size > 1 && members.count(idSet.contains) != 1
      }
      Seq(
        Check(s"curate_corpus.$name.copies_sum_to_docs", copies == limit,
          s"sum n_copies $copies, docs $limit"),
        Check(s"curate_corpus.$name.survivors_are_docs",
          ids.forall(i => i >= 0 && i < limit) && idSet.size == ids.length,
          s"${ids.length} survivors, ${idSet.size} distinct"),
        Check(s"curate_corpus.$name.one_survivor_per_exact_family",
          badFamilies == 0 && dupHash == 0,
          s"$badFamilies families without exactly one survivor, $dupHash survivors share a hash"))
    }
    checksOf("store", store, docs(applied)) ++
      checksOf("one_shot", oneShotPass(new Tracer(false)), docs(OneShotIncrements))
  }

  def layerMetrics(u: Units, tracer: Tracer, obs: Observers): Map[String, Double] = {
    val survivors = oneShotPass(tracer).length
    Map(
      "ext.increment_p50_s" -> Layer.p50(tracer.durations("ext.applyIncrement")),
      "ext.oneshot_s" -> tracer.durations("ext.curateOneShot").sum,
      "ext.shuffle_mb_per_kdoc" ->
        Layer.per(Layer.mb(obs.sparkStats.shuffleWriteBytes.sum), u.records / 1000.0),
      "ext.survivor_ratio" -> Layer.per(survivors, docs(OneShotIncrements)))
  }
}
