package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, SparkSession, functions => F}
import org.apache.spark.storage.StorageLevel

import graft.checkpoint.Resume
import graft.dedup.Dedup
import graft.pipeline.Curate
import graft.synth.Transcripts
import graft.tableio.TableIO

/** Input size of one workload: `nConvs` synthetic conversations written
  * as a table of `buckets` conv_id-hash partitions.
  */
final case class WorkloadSpec(name: String, nConvs: Int, buckets: Int)

object WorkloadSpec {
  val all: Seq[WorkloadSpec] = Seq(
    WorkloadSpec("curate_resume", 2000, 4),
    WorkloadSpec("dedup_turns", 2000, 2))

  def byName(n: String): Option[WorkloadSpec] = all.find(_.name == n)
}

/** What one rep did, before its checks. */
final case class RepOut(ops: Int, extra: Map[String, Double], result: Any)

/** Order-insensitive digest of a row set: row count plus three sums of
  * 32-bit hash words (sums, so row order and partitioning do not
  * matter; 32-bit words, so the sums cannot overflow).
  */
object Digest {
  def cols(cs: Column*): Seq[Column] = {
    val h = F.xxhash64(cs: _*)
    Seq(F.count(F.lit(1)),
      F.sum(h.bitwiseAND(0xFFFFFFFFL)),
      F.sum(F.shiftrightunsigned(h, 32)),
      F.sum(F.hash(cs: _*).cast("long").bitwiseAND(0xFFFFFFFFL)))
  }

  /** The single row of an aggregate over [[cols]] (and any further
    * long sums), as longs; a sum over no rows reads 0.
    */
  def longs(df: DataFrame): Seq[Long] = {
    val r = df.head()
    (0 until r.length).map(i => if (r.isNullAt(i)) 0L else r.getLong(i))
  }

  /** The curate output columns the checks compare. */
  def curated: Seq[Column] = cols(F.col("conv_id"), F.col("turn_idx"), F.col("keep"),
    F.coalesce(F.col("drop_reason"), F.lit("<kept>")), F.col("scrubbed_text"))
}

/** A workload's set-up, timed rep and checks, against one session. */
abstract class Workload(val spark: SparkSession, val spec: WorkloadSpec,
    val seed: Long, val work: Path, val cores: Int) {
  val input: String = work.resolve("input").toString
  val output: String = work.resolve("output").toString
  var inputTurns = 0L
  var inputBytes = 0L

  /** Generate the seeded transcripts and write the bucketed input table. */
  def writeInput(): Unit = {
    TableIO.writeBucketedInput(Transcripts.dataset(spark, spec.nConvs, seed).toDF(),
      input, spec.buckets)
  }

  /** After the input exists: sizes plus the workload's reference data. */
  def prepare(): Unit = {
    inputTurns = spark.read.parquet(input).count()
    inputBytes = parquetBytes(input)
  }

  /** Operations one rep attempts: partitions, or dedup calls. */
  def opsPerRep: Int

  def rep(tr: Tracer, traced: Boolean): RepOut

  /** Checks one rep; returns (failed operations, quality, extra metrics). */
  def check(out: RepOut): (Int, Double, Map[String, Double])

  /** A direct `TableIO.donePartitions` call on `table`, timed only in
    * traced reps; the rep's wall time leaves it out.
    */
  def timeDonePartitions(tr: Tracer, traced: Boolean, table: String): Double =
    if (!traced) Double.NaN
    else {
      val t0 = System.nanoTime()
      tr.span("tableio.done_partitions")(TableIO.donePartitions(table))
      (System.nanoTime() - t0) / 1e6
    }

  def parquetBytes(base: String): Long = {
    val d = Paths.get(base)
    if (!Files.isDirectory(d)) 0L
    else Files.walk(d).iterator().asScala
      .filter(p => p.getFileName.toString.endsWith(".parquet") &&
        !p.toString.contains("/_staging/"))
      .map(Files.size).sum
  }
}

object Workload {
  val DoneMs = "tableio.done_partitions_ms"

  def apply(spark: SparkSession, spec: WorkloadSpec, seed: Long, work: Path,
      cores: Int): Workload = spec.name match {
    case "dedup_turns" => new DedupWorkload(spark, spec, seed, work, cores)
    case _ => new CurateWorkload(spark, spec, seed, work, cores)
  }
}

/** `Resume.run` killed after half the input partitions, then run again
  * to resume the rest: the production job, including its skip path.
  */
final class CurateWorkload(spark: SparkSession, spec: WorkloadSpec, seed: Long,
    work: Path, cores: Int) extends Workload(spark, spec, seed, work, cores) {
  val concurrency = 2
  val killAfter: Int = spec.buckets / 2
  def opsPerRep: Int = spec.buckets
  private var labels: DataFrame = _
  private var reference: Seq[Long] = Nil

  override def prepare(): Unit = {
    super.prepare()
    labels = Transcripts.labels(spark, spec.nConvs, seed)
      .select(F.col("conv_id"), F.col("turn_idx"),
        F.exists(F.col("planted"), t => t.isin("clean", "pii")).as("expected"))
      .persist(StorageLevel.MEMORY_ONLY)
    labels.count()
    reference = Digest.longs(Curate.curateDf(spark, spark.read.parquet(input))
      .agg(Digest.curated.head, Digest.curated.tail: _*))
  }

  private def runOnce(tr: Tracer, maxParts: Int): Resume.RunResult =
    tr.span("resume.run") {
      Resume.run(spark, input, output, writePartitions = cores,
        maxPartitions = maxParts, concurrency = concurrency)
    }

  def rep(tr: Tracer, traced: Boolean): RepOut = {
    TableIO.deleteRecursive(Paths.get(output))
    val first = runOnce(tr, killAfter)
    val doneMs = timeDonePartitions(tr, traced, output) // the half-committed output
    val second = runOnce(tr, Int.MaxValue)
    RepOut(first.processed.size + second.processed.size,
      Map("checkpoint.resume_skipped" -> second.skipped.size.toDouble,
        Workload.DoneMs -> doneMs), (first, second))
  }

  private val seenRe = "\"turns_seen\": (\\d+)".r
  private val keptRe = "\"turns_kept\": (\\d+)".r
  private val droppedRe = "\"turns_dropped\": (\\d+)".r

  def check(out: RepOut): (Int, Double, Map[String, Double]) = {
    val (first, second) = out.result.asInstanceOf[(Resume.RunResult, Resume.RunResult)]
    val parts = Resume.listInputPartitions(input).sorted
    // every partition processed exactly once over the two runs, and the
    // resumed run skipped exactly what the killed run committed
    var tableOk = (first.processed ++ second.processed).sorted == parts &&
      first.processed.size == killAfter && second.skipped == first.processed
    // kept + dropped = seen in every manifest
    var seenTotal = 0L
    val badParts = parts.count { p =>
      TableIO.readManifest(output, p) match {
        case None => true
        case Some(m) =>
          def num(re: scala.util.matching.Regex) =
            re.findFirstMatchIn(m).map(_.group(1).toLong).getOrElse(-1L)
          val seen = num(seenRe)
          seenTotal += math.max(seen, 0L)
          seen < 0 || num(keptRe) + num(droppedRe) != seen
      }
    }
    tableOk &&= seenTotal == inputTurns
    // no in-flight write left behind
    val staging = Paths.get(output, "_staging")
    tableOk &&= !Files.isDirectory(staging) || Files.list(staging).iterator().asScala.isEmpty
    // committed rows: same turns, and the same digest as curateDf over
    // the input; keep/drop F1 against the labels in the same pass
    val expected = F.col("expected")
    val got = Digest.longs(TableIO.read(spark, output)
      .join(labels, Seq("conv_id", "turn_idx"), "left")
      .agg(Digest.curated.head, Digest.curated.tail ++ Seq(
        F.sum(F.when(F.col("keep") && expected, 1L).otherwise(0L)),
        F.sum(F.when(F.col("keep") && !expected, 1L).otherwise(0L)),
        F.sum(F.when(!F.col("keep") && expected, 1L).otherwise(0L)),
        F.sum(F.when(expected.isNull, 1L).otherwise(0L))): _*))
    val digest = got.take(reference.length)
    val Seq(tp, fp, fn, unlabeled) = got.drop(reference.length)
    tableOk &&= digest == reference && digest.head == inputTurns && unlabeled == 0L
    val failed = if (tableOk) badParts else out.ops
    (failed, Stats.f1(tp, fp, fn),
      Map("tableio.out_bytes_per_in_byte" -> parquetBytes(output).toDouble / inputBytes))
  }
}

/** `Dedup.minhashClusters` over every turn, then `Dedup.convNearDups`
  * over the conversations plus 1% planted again under `dup::<conv_id>`.
  */
final class DedupWorkload(spark: SparkSession, spec: WorkloadSpec, seed: Long,
    work: Path, cores: Int) extends Workload(spark, spec, seed, work, cores) {
  val threshold = 0.8
  val dupPrefix = "dup::"
  def opsPerRep: Int = 2
  private var planted = 0L
  private var firstClusters: Seq[Long] = Nil
  private var firstPairs: Seq[Long] = Nil

  private def isPlanted: Column =
    F.pmod(F.xxhash64(F.col("conv_id"), F.lit(seed)), F.lit(100)) === 0

  override def prepare(): Unit = {
    super.prepare()
    planted = spark.read.parquet(input).filter(isPlanted).select("conv_id").distinct().count()
    require(planted > 0, "no conversation was planted as a duplicate")
  }

  def rep(tr: Tracer, traced: Boolean): RepOut = {
    val turns = spark.read.parquet(input)
    val ids = turns.select(
      F.concat_ws("#", F.col("conv_id"), F.col("turn_idx").cast("string")).as("id"),
      F.col("text"))
    val clusters = tr.span("dedup.minhash_clusters") {
      val c = Dedup.minhashClusters(ids, "id", "text")
      Digest.longs(c.agg(F.sum(F.when(F.col("id") === F.col("rep_id"), 1L).otherwise(0L)),
        (F.sum(F.when(F.col("rep_id") > F.col("id"), 1L).otherwise(0L)) +:
          Digest.cols(F.col("id"), F.col("rep_id"))): _*))
    }
    val convs = turns.select("conv_id", "text")
      .unionByName(turns.filter(isPlanted)
        .select(F.concat(F.lit(dupPrefix), F.col("conv_id")).as("conv_id"), F.col("text")))
    val pairs = tr.span("dedup.conv_near_dups") {
      val p = Dedup.convNearDups(convs, "conv_id", "text", threshold = threshold)
      Digest.longs(p.agg(
        F.sum(F.when(F.col("id_b") === F.concat(F.lit(dupPrefix), F.col("id_a")), 1L)
          .otherwise(0L)),
        Digest.cols(F.col("id_a"), F.col("id_b")): _*))
    }
    RepOut(opsPerRep, Map(
      // the input table: no manifest, so this is the cost of the check alone
      Workload.DoneMs -> timeDonePartitions(tr, traced, input),
      "dedup.survivors" -> clusters(0).toDouble,
      "dedup.pairs" -> pairs(1).toDouble), (clusters, pairs))
  }

  def check(out: RepOut): (Int, Double, Map[String, Double]) = {
    val (clusters, pairs) = out.result.asInstanceOf[(Seq[Long], Seq[Long])]
    // the first rep (the warm-up) fixes the sets every later rep must match
    if (firstClusters.isEmpty) { firstClusters = clusters; firstPairs = pairs }
    // every turn gets a representative no larger than itself
    val clustersOk = clusters(2) == inputTurns && clusters(1) == 0L &&
      clusters == firstClusters
    val pairsOk = pairs == firstPairs
    val failed = Seq(clustersOk, pairsOk).count(!_)
    (failed, pairs(0).toDouble / planted, Map.empty)
  }
}
