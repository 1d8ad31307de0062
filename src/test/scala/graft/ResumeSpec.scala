package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.ListenerDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobStart}
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.scalatest.concurrent.{Signaler, ThreadSignaler, TimeLimits}
import org.scalatest.time.{Seconds, Span}

import graft.checkpoint.Resume
import graft.model.PartitionMetrics
import graft.synth.Transcripts
import graft.tableio.TableIO

/** Kill-after-partition-k resume fixture (FIXTURES.md F5, SURVEY.md
  * §7.2 step 9): interrupted run + rerun must (a) not recompute
  * completed partitions and (b) produce output identical to an
  * uninterrupted run.
  */
class ResumeSpec extends SparkTestBase with TimeLimits {

  implicit val signaler: Signaler = ThreadSignaler

  private def freshDir(name: String): String = {
    val p = Paths.get(s"/tmp/graft-test-$name-${System.nanoTime()}")
    Files.createDirectories(p)
    p.toString
  }

  private def collectOutput(base: String): Seq[Seq[Any]] =
    TableIO.read(spark, base)
      .select("conv_id", "turn_idx", "keep", "drop_reason", "scrubbed_text", "part_id")
      .collect().map(_.toSeq).toSeq.sortBy(_.toString)

  test("kill after k partitions → resume completes without recompute; output byte-identical") {
    val in = freshDir("in")
    val outA = freshDir("outA")
    val outB = freshDir("outB")
    try {
      val turns = Transcripts.dataset(spark, 60L).toDF()
      TableIO.writeBucketedInput(turns, in, nBuckets = 6)
      assert(Resume.listInputPartitions(in).toSet == (0 until 6).toSet)

      // uninterrupted reference run
      val full = Resume.run(spark, in, outB)
      assert(full.processed.size == 6)

      // interrupted run: only 3 partitions, then "killed"
      val r1 = Resume.run(spark, in, outA, maxPartitions = 3)
      assert(r1.processed.size == 3)
      assert(TableIO.donePartitions(outA).size == 3)

      // record bytes of completed partition files
      def fileBytes(base: String, parts: Seq[Int]): Map[String, Long] =
        parts.flatMap { p =>
          val d = TableIO.partitionDir(base, p)
          import scala.jdk.CollectionConverters._
          Files.walk(d).iterator().asScala.filter(Files.isRegularFile(_))
            .map(f => f.toString -> Files.getLastModifiedTime(f).toMillis)
        }.toMap
      val before = fileBytes(outA, r1.processed)

      // resume
      val r2 = Resume.run(spark, in, outA)
      assert(r2.processed.size == 3)
      assert(r2.skipped.toSet == r1.processed.toSet)
      assert(TableIO.donePartitions(outA).size == 6)

      // completed partitions untouched (same files, same mtimes)
      val after = fileBytes(outA, r1.processed)
      assert(after == before, "completed partitions were recomputed")

      // final output identical to the uninterrupted run
      assert(collectOutput(outA) == collectOutput(outB))

      // manifests carry lineage + metrics
      val m = TableIO.readManifest(outA, r1.processed.head).get
      assert(m.contains("\"turns_seen\""))
      assert(m.contains("\"dropped_by_rule\""))
      assert(m.contains("\"scrub_hit_counts\""))
      assert(m.contains("\"input\""))
    } finally {
      Seq(in, outA, outB).foreach(d => TableIO.deleteRecursive(Paths.get(d)))
    }
  }

  test("crash between data commit and manifest → partition reprocessed, result still identical") {
    val in = freshDir("in2")
    val out = freshDir("out2")
    try {
      val turns = Transcripts.dataset(spark, 20L).toDF()
      TableIO.writeBucketedInput(turns, in, nBuckets = 3)
      Resume.run(spark, in, out, maxPartitions = 2)
      // simulate crash-after-commit-before-manifest on partition done last:
      val victim = TableIO.donePartitions(out).max
      Files.delete(TableIO.manifestPath(out, victim))
      assert(TableIO.donePartitions(out).size == 1)
      val r = Resume.run(spark, in, out, concurrency = 3)
      assert(r.processed.contains(victim))
      assert(TableIO.donePartitions(out).size == 3)
      val rows = collectOutput(out)
      val ref = freshDir("out2ref")
      Resume.run(spark, in, ref, concurrency = 3) // concurrent == sequential output
      assert(rows == collectOutput(ref))
      TableIO.deleteRecursive(Paths.get(ref))
    } finally {
      Seq(in, out).foreach(d => TableIO.deleteRecursive(Paths.get(d)))
    }
  }

  /** The manifest the crossJoin metrics over partition `p`'s committed
    * rows give — what `Resume` wrote before it observed the write.
    */
  private def legacyManifest(in: String, out: String, p: Int): String =
    Resume.manifestJson(in, LegacyMetrics.row(TableIO.readPartition(spark, out, p), p))

  private def assertLegacyManifests(in: String, out: String): Unit = {
    val parts = Resume.listInputPartitions(in).sorted
    assert(TableIO.donePartitions(out).toSeq.sorted == parts)
    parts.foreach { p =>
      assert(TableIO.readManifest(out, p).contains(legacyManifest(in, out, p)), s"part $p")
    }
  }

  /** Per partition, the sorted digests of its committed parquet files
    * (their names carry a per-write id, their bytes do not).
    */
  private def partFiles(base: String): Map[Int, Seq[String]] =
    TableIO.donePartitions(base).map { p =>
      p -> Files.list(TableIO.partitionDir(base, p)).iterator().asScala.toSeq
        .filter(_.getFileName.toString.endsWith(".parquet"))
        .map(f => java.security.MessageDigest.getInstance("SHA-256")
          .digest(Files.readAllBytes(f)).map("%02x".format(_)).mkString)
        .sorted
    }.toMap

  private def manifests(base: String): Map[Int, String] =
    TableIO.donePartitions(base).map(p => p -> TableIO.readManifest(base, p).get).toMap

  /** Jobs by description and the physical plan of every SQL execution
    * submitted while `body` runs.
    */
  private def recordJobs[T](body: => T): (T, Seq[(Option[String], Boolean)], Seq[String]) = {
    val jobs = new java.util.concurrent.ConcurrentLinkedQueue[(Option[String], Boolean)]()
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        def prop(k: String) = Option(e.properties).flatMap(p => Option(p.getProperty(k)))
        jobs.add(prop("spark.job.description") -> prop("spark.sql.execution.id").nonEmpty)
      }
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case x: SparkListenerSQLExecutionStart => plans.add(x.physicalPlanDescription)
        case _ =>
      }
    }
    ListenerDrain(spark.sparkContext)
    spark.sparkContext.addSparkListener(listener)
    try {
      val r = body
      ListenerDrain(spark.sparkContext)
      (r, jobs.asScala.toSeq, plans.asScala.toSeq)
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  private def scanned(plans: Seq[String]): Seq[String] =
    plans.flatMap(_.linesIterator.filter(_.contains("Location:")))

  test("manifests == the crossJoin metrics of each committed partition (concurrency 1 and 3, kill + resume)") {
    val in = freshDir("mf-in")
    try {
      TableIO.writeBucketedInput(Transcripts.dataset(spark, 60L).toDF(), in, nBuckets = 6)
      for (c <- Seq(1, 3)) {
        val out = freshDir(s"mf-out$c")
        try {
          assert(Resume.run(spark, in, out, maxPartitions = 2, concurrency = c).processed.size == 2)
          assert(Resume.run(spark, in, out, concurrency = c).processed.size == 4)
          assertLegacyManifests(in, out)
          // the bytes written before the metrics were observed
          assert(TableIO.readManifest(out, 0).get ==
            s"""{"part_id": 0, "input": "$in/part_id=0", "turns_seen": 140, """ +
            s""""turns_kept": 107, "turns_dropped": 33, "dropped_by_rule": {"boilerplate": 9, """ +
            s""""grammar": 7, "lang": 2, "ppl": 3, "repetition": 6, "symbol_ratio": 1, """ +
            s""""too_long": 1, "too_short": 4}, "scrub_hit_counts": {"email": 6, "key": 5, """ +
            s""""phone": 5, "slur": 5, "url": 6}}""")
        } finally TableIO.deleteRecursive(Paths.get(out))
      }
    } finally TableIO.deleteRecursive(Paths.get(in))
  }

  test("a zero-row input partition gets the same manifest and does not block on its observation") {
    val in = freshDir("empty-in")
    val out = freshDir("empty-out")
    try {
      val turns = Transcripts.dataset(spark, 20L).toDF()
      TableIO.writeBucketedInput(turns, in, nBuckets = 2)
      turns.limit(0).write.parquet(s"$in/${TableIO.PART_COL}=2")
      failAfter(Span(120, Seconds)) {
        assert(Resume.run(spark, in, out, concurrency = 2).processed == Seq(0, 1, 2))
      }
      assert(TableIO.readManifest(out, 2).get ==
        s"""{"part_id": 2, "input": "$in/part_id=2", "turns_seen": 0, "turns_kept": null, """ +
        s""""turns_dropped": null, "dropped_by_rule": {}, "scrub_hit_counts": {}}""")
      assertLegacyManifests(in, out)
    } finally Seq(in, out).foreach(d => TableIO.deleteRecursive(Paths.get(d)))
  }

  test("no job reads a committed partition after its write; at most 3 jobs per partition") {
    val in = freshDir("jobs-in")
    try {
      TableIO.writeBucketedInput(Transcripts.dataset(spark, 30L).toDF(), in, nBuckets = 3)
      for (c <- Seq(1, 3)) {
        val out = freshDir(s"jobs-out$c")
        try {
          val (r, jobs, plans) = recordJobs(Resume.run(spark, in, out, concurrency = c))
          assert(r.processed == Seq(0, 1, 2))
          val byPart = jobs.groupBy(_._1)
          assert(byPart.keySet == r.processed.map(p => Option(s"resume part_id=$p")).toSet,
            s"jobs outside a partition: $jobs")
          byPart.foreach { case (d, js) =>
            assert(js.size <= 3, s"$d ran ${js.size} jobs")
            // the input's schema read is the one job outside a query
            assert(js.count(!_._2) == 1, s"$d ran ${js.count(!_._2)} file-reading jobs")
          }
          val locations = scanned(plans)
          assert(locations.exists(_.contains(s"$in/part_id=")), "no input scan recorded")
          assert(!locations.exists(_.contains(s"$out/")), s"output scanned: $locations")
        } finally TableIO.deleteRecursive(Paths.get(out))
      }
    } finally TableIO.deleteRecursive(Paths.get(in))
  }

  test("a failed write under concurrency 3: error propagates, no manifest or staging left, rerun converges") {
    val in = freshDir("fail-in")
    val out = freshDir("fail-out")
    val ref = freshDir("fail-ref")
    try {
      TableIO.writeBucketedInput(Transcripts.dataset(spark, 60L).toDF(), in, nBuckets = 6)
      Resume.run(spark, in, ref, concurrency = 3)
      // zero partition 1's data pages, footers intact and checksum
      // files set aside: its schema read succeeds, its commit write fails
      val victim = 1
      val original = Files.list(TableIO.partitionDir(in, victim)).iterator().asScala.toSeq
        .map(f => f -> Files.readAllBytes(f))
      original.foreach { case (f, b) =>
        if (f.getFileName.toString.endsWith(".crc")) Files.delete(f)
        else if (f.getFileName.toString.endsWith(".parquet")) {
          val footer = java.nio.ByteBuffer.wrap(b, b.length - 8, 4)
            .order(java.nio.ByteOrder.LITTLE_ENDIAN).getInt
          val broken = b.clone()
          java.util.Arrays.fill(broken, 4, b.length - 8 - footer, 0.toByte)
          Files.write(f, broken)
        }
      }
      val commits = new java.util.concurrent.atomic.AtomicInteger(0)
      val e = failAfter(Span(180, Seconds)) {
        intercept[Exception](Resume.run(spark, in, out, concurrency = 3,
          onCommit = (_, _) => commits.incrementAndGet()))
      }
      val committedAtReturn = commits.get
      assert(e.getStackTrace.exists(_.getMethodName == "commitPartition"), e)
      // the failure stops the run: no queued partition starts after it
      Thread.sleep(3000)
      assert(commits.get == committedAtReturn)
      assert(TableIO.donePartitions(out).size == committedAtReturn)
      assert(TableIO.readManifest(out, victim).isEmpty)
      val staging = Paths.get(out, "_staging")
      assert(!Files.isDirectory(staging) || Files.list(staging).iterator().asScala.isEmpty,
        "staging left behind")
      // whatever committed before the failure is already final
      manifests(out).foreach { case (p, m) => assert(m == manifests(ref)(p), s"part $p") }

      original.foreach { case (f, b) => Files.write(f, b) }
      val (r, _, plans) = recordJobs(Resume.run(spark, in, out, concurrency = 3))
      assert(r.processed.contains(victim))
      assert(!scanned(plans).exists(_.contains("_staging")))
      assert(manifests(out) == manifests(ref))
      assert(partFiles(out) == partFiles(ref))
      assert(collectOutput(out) == collectOutput(ref))
    } finally Seq(in, out, ref).foreach(d => TableIO.deleteRecursive(Paths.get(d)))
  }

  test("onCommit reports each committed partition once, with its manifest's figures") {
    val in = freshDir("progress-in")
    val out = freshDir("progress-out")
    try {
      TableIO.writeBucketedInput(Transcripts.dataset(spark, 20L).toDF(), in, nBuckets = 3)
      val seen = new java.util.concurrent.ConcurrentLinkedQueue[(PartitionMetrics, Long)]()
      val r = Resume.run(spark, in, out, concurrency = 2,
        onCommit = (m, ms) => seen.add(m -> ms))
      val reported = seen.asScala.toSeq
      assert(reported.map(_._1.part_id).sorted == r.processed)
      reported.foreach { case (m, ms) =>
        assert(ms >= 0)
        assert(TableIO.readManifest(out, m.part_id).contains(Resume.manifestJson(in, m)))
        assert(CurateJob.progressLine(m, ms) ==
          s"""{"part_id":${m.part_id},"turns_seen":${m.turns_seen},""" +
          s""""turns_kept":${m.turns_kept.get},"turns_dropped":${m.turns_dropped.get},""" +
          s""""commit_ms":$ms}""")
      }
    } finally Seq(in, out).foreach(d => TableIO.deleteRecursive(Paths.get(d)))
  }
}
