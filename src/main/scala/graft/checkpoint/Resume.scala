package graft.checkpoint

import java.util.concurrent.{ExecutionException, Executors, TimeUnit}

import org.apache.spark.sql.{Observation, SparkSession}

import graft.model.PartitionMetrics
import graft.pipeline.Curate
import graft.rules.QualityRules
import graft.tableio.TableIO

/** Per-partition checkpointed pipeline runner (SURVEY.md §7.2 step 9;
  * FIXTURES.md F5). A killed job resumes without recomputing completed
  * partitions: the driver loops over input partitions not yet in the
  * output manifest; each partition is read with directory pruning,
  * curated, committed atomically, and recorded with lineage + metrics
  * (turns seen / dropped-by-rule / scrub-hit counts — the rebuild of
  * correction_stats, smart_corrector.py:90-96,252-260).
  *
  * The metrics are observed on the commit write itself
  * (`Dataset.observe` over [[Curate.metricSums]]), not recomputed from
  * the committed files; the write is validated against them by the
  * files' footer row count before the manifest is written.
  *
  * Scale notes: the loop is over PARTITIONS (thousands at 10^12 turns),
  * each processed with full cluster parallelism; per-partition work is
  * one input schema read plus the map-only curate and its salted write
  * (at most 3 Spark jobs), with no re-scan. `maxPartitions` lets tests
  * simulate a kill after k partitions.
  */
object Resume {

  final case class RunResult(processed: Seq[Int], skipped: Seq[Int])

  /** @param concurrency number of partitions in flight at once. Spark's
    *   scheduler is thread-safe: each worker thread submits its
    *   partition's jobs independently, keeping the cluster busy while
    *   another partition is in its (cheap, driver-side) commit step.
    *   Each partition still commits atomically and independently. On a
    *   failure, queued partitions are not started and the run returns
    *   (rethrowing the first failure) only once the in-flight ones end.
    * @param onCommit called once per committed partition, on its worker
    *   thread, with its metrics and the ms from the start of its read to
    *   its manifest write.
    */
  def run(
      spark: SparkSession,
      inputBase: String,
      outputBase: String,
      cfg: QualityRules.Config = QualityRules.defaultConfig,
      models: Curate.Models = Curate.defaultModels,
      writePartitions: Int = 8,
      maxPartitions: Int = Int.MaxValue,
      concurrency: Int = 1,
      onCommit: (PartitionMetrics, Long) => Unit = (_, _) => ()
  ): RunResult = {
    val inputParts = listInputPartitions(inputBase)
    val done = TableIO.donePartitions(outputBase)
    val todo = inputParts.filterNot(done.contains).sorted.take(maxPartitions)
    val processed = new java.util.concurrent.ConcurrentLinkedQueue[Int]()
    val sc = spark.sparkContext

    def processOne(p: Int): Unit = {
      val t0 = System.nanoTime()
      val outerDesc = sc.getLocalProperty("spark.job.description")
      sc.setJobDescription(s"resume ${TableIO.PART_COL}=$p")
      try {
        val turns = TableIO.readPartition(spark, inputBase, p)
        val curated = Curate.curateDf(spark, turns, cfg, models)
        // observed above the salted repartition, in the write's own
        // stage: AQE drops an exchange that reads as empty together
        // with anything below it, so a zero-row partition observed
        // below would report nothing
        val obs = Observation(s"resume_${TableIO.PART_COL}=$p")
        val ordered = Curate.saltedForWrite(curated, writePartitions)
          .observe(obs, Curate.metricSums.head, Curate.metricSums.tail: _*)
        val dir = TableIO.commitPartition(ordered, outputBase, p)
        val m = Curate.partitionMetrics(p, obs.get)
        val rows = TableIO.committedRows(dir)
        if (rows != m.turns_seen) throw new IllegalStateException(
          s"$dir: committed files hold $rows rows but the write observed ${m.turns_seen}")
        TableIO.writeManifest(outputBase, p, manifestJson(inputBase, m))
        processed.add(p)
        onCommit(m, (System.nanoTime() - t0) / 1000000L)
      } finally sc.setJobDescription(outerDesc)
    }

    if (concurrency <= 1) todo.foreach(processOne)
    else {
      val pool = Executors.newFixedThreadPool(concurrency)
      try {
        val futures = todo.map(p =>
          pool.submit(new Runnable { def run(): Unit = processOne(p) }))
        try futures.foreach(_.get())
        catch {
          case e: ExecutionException =>
            futures.foreach(_.cancel(false))
            throw e.getCause
        }
      } finally {
        pool.shutdown()
        pool.awaitTermination(Long.MaxValue, TimeUnit.NANOSECONDS)
      }
    }
    import scala.jdk.CollectionConverters._
    RunResult(processed.asScala.toSeq.sorted, done.toSeq.sorted)
  }

  def listInputPartitions(inputBase: String): Seq[Int] = {
    val d = java.nio.file.Paths.get(inputBase)
    if (!java.nio.file.Files.isDirectory(d)) return Nil
    import scala.jdk.CollectionConverters._
    java.nio.file.Files.list(d).iterator().asScala
      .map(_.getFileName.toString)
      .collect { case s if s.startsWith(s"${TableIO.PART_COL}=") =>
        s.stripPrefix(s"${TableIO.PART_COL}=").toInt
      }
      .toSeq
  }

  private def jstr(s: String) =
    "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""

  private def jnum(n: Option[Long]) = n.fold("null")(_.toString)

  private def jmap(m: Map[String, Long]) =
    m.toSeq.sortBy(_._1)
      .map { case (k, v) => s"${jstr(k)}: $v" }.mkString("{", ", ", "}")

  /** Lineage + metrics manifest row (deterministic fields only). */
  def manifestJson(inputBase: String, m: PartitionMetrics): String =
    s"""{"part_id": ${m.part_id}, "input": ${jstr(s"$inputBase/${TableIO.PART_COL}=${m.part_id}")}, """ +
      s""""turns_seen": ${m.turns_seen}, """ +
      s""""turns_kept": ${jnum(m.turns_kept)}, """ +
      s""""turns_dropped": ${jnum(m.turns_dropped)}, """ +
      s""""dropped_by_rule": ${jmap(m.dropped_by_rule)}, """ +
      s""""scrub_hit_counts": ${jmap(m.scrub_hit_counts)}}"""
}
