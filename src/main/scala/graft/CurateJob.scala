package graft

import org.apache.spark.sql.SparkSession

import graft.checkpoint.Resume
import graft.model.PartitionMetrics
import graft.tableio.TableIO

/** Production entry point — the spark-submit face of the engine:
  *
  *   spark-submit --class graft.CurateJob <jar> \
  *     --input <transcripts table dir (Hive-bucketed by part_id)> \
  *     --output <curated table dir> \
  *     [--concurrency 4] [--write-partitions 64] [--max-partitions N]
  *
  * Resumable by construction: re-running the same command after a
  * kill processes only partitions missing from the output manifest
  * (checkpoint/Resume). On a cluster the session comes from
  * spark-submit's conf (executor count/memory set there — the N vs 4N
  * executor scaling axis); local runs honor SPARK_GRAFT_CPUS.
  * Progress: one JSON line per committed partition (part_id,
  * turns_seen/kept/dropped, commit_ms = ms from the partition's read to
  * its manifest write), from the metrics observed on its commit write.
  * Exit summary (one JSON line, always the last) reports per-run
  * lineage totals.
  */
object CurateJob {
  /** The progress line of one committed partition. */
  def progressLine(m: PartitionMetrics, commitMs: Long): String =
    s"""{"part_id":${m.part_id},"turns_seen":${m.turns_seen},""" +
      s""""turns_kept":${m.turns_kept.getOrElse(0L)},""" +
      s""""turns_dropped":${m.turns_dropped.getOrElse(0L)},""" +
      s""""commit_ms":$commitMs}"""

  def main(args: Array[String]): Unit = {
    val opts = args.sliding(2, 2).collect {
      case Array(k, v) if k.startsWith("--") => k.stripPrefix("--") -> v
    }.toMap
    val input = opts.getOrElse("input",
      sys.error("--input <dir> required (Hive-bucketed transcripts; " +
        "use TableIO.writeBucketedInput or an Iceberg bucket(N, conv_id) spec)"))
    val output = opts.getOrElse("output", sys.error("--output <dir> required"))
    val concurrency = opts.getOrElse("concurrency", "2").toInt
    val writeParts = opts.getOrElse("write-partitions",
      sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")).toInt
    val maxParts = opts.getOrElse("max-partitions", Int.MaxValue.toString).toInt

    // under spark-submit the master/executor topology comes from the
    // submit conf (the N vs 4N executor axis); standalone runs fall
    // back to local[SPARK_GRAFT_CPUS]
    val base = SparkSession.builder().appName("graft-curate")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
    val spark = (if (sys.props.contains("spark.master")) base
                 else base.master(s"local[${sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")}]"))
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val t0 = System.nanoTime()
    val result = Resume.run(spark, input, output,
      writePartitions = writeParts, maxPartitions = maxParts,
      concurrency = concurrency,
      onCommit = (m, ms) => println(progressLine(m, ms)))
    val sec = (System.nanoTime() - t0) / 1e9

    // roll up manifests for the exit summary
    val manifests = TableIO.donePartitions(output).toSeq.sorted
      .flatMap(p => TableIO.readManifest(output, p))
    val seen = "\"turns_seen\": (\\d+)".r
    val totalSeen = manifests.flatMap(m => seen.findFirstMatchIn(m).map(_.group(1).toLong)).sum
    println(
      s"""{"job":"graft-curate","processed_partitions":${result.processed.size},""" +
        s""""skipped_partitions":${result.skipped.size},"total_turns_committed":$totalSeen,""" +
        s""""sec":${f"$sec%.1f"}}""")
    spark.stop()
  }
}
