package graft

import org.apache.spark.sql.{DataFrame, Row, functions => F}

import graft.model.PartitionMetrics
import graft.pipeline.Curate
import graft.rules.QualityRules
import graft.synth.Transcripts

/** The metrics aggregate as first written: three aggregations joined
  * by two crossJoins, with open key sets. Kept as the oracle of
  * [[Curate.metrics]] and of the manifests `Resume` builds from its
  * observed sums.
  */
object LegacyMetrics {
  def apply(curated: DataFrame, partId: Int = 0): DataFrame = {
    val byRule = curated
      .filter(F.col("drop_reason").isNotNull)
      .groupBy("drop_reason").count()
      .agg(F.map_from_entries(
        F.sort_array(F.collect_list(F.struct(F.col("drop_reason"), F.col("count")))))
        .as("dropped_by_rule"))
    val scrubCounts = curated
      .select(F.explode_outer(F.col("scrub_hits")).as(Seq("k", "v")))
      .filter(F.col("k").isNotNull)
      .groupBy("k").agg(F.sum("v").cast("long").as("n"))
      .agg(F.map_from_entries(
        F.sort_array(F.collect_list(F.struct(F.col("k"), F.col("n")))))
        .as("scrub_hit_counts"))
    val base = curated.agg(
      F.count(F.lit(1)).as("turns_seen"),
      F.sum(F.when(F.col("keep"), 1L).otherwise(0L)).as("turns_kept"),
      F.sum(F.when(F.col("keep"), 0L).otherwise(1L)).as("turns_dropped"))
    base
      .crossJoin(byRule)
      .crossJoin(scrubCounts)
      .withColumn("part_id", F.lit(partId))
      .select("part_id", "turns_seen", "turns_kept", "turns_dropped",
        "dropped_by_rule", "scrub_hit_counts")
  }

  /** The one row of [[apply]] as the manifest's metrics. */
  def row(curated: DataFrame, partId: Int): PartitionMetrics = {
    val r = apply(curated, partId).head()
    def opt(c: String) = Option(r.getAs[Any](c)).map(_.asInstanceOf[Long])
    PartitionMetrics(partId, r.getAs[Long]("turns_seen"), opt("turns_kept"),
      opt("turns_dropped"), r.getAs[Map[String, Long]]("dropped_by_rule"),
      r.getAs[Map[String, Long]]("scrub_hit_counts"))
  }
}

class CurateMetricsSpec extends SparkTestBase {

  private lazy val turns = Transcripts.dataset(spark, 60L).toDF()

  private def json(df: DataFrame): Seq[Row] =
    df.select(F.col("part_id"), F.col("turns_seen"), F.col("turns_kept"),
      F.col("turns_dropped"), F.to_json(F.col("dropped_by_rule")),
      F.to_json(F.col("scrub_hit_counts"))).collect().toSeq

  private def sums(df: DataFrame): Map[String, Any] = {
    val r = df.agg(Curate.metricSums.head, Curate.metricSums.tail: _*).head()
    r.getValuesMap[Any](r.schema.fieldNames.toSeq)
  }

  Seq(
    "default" -> QualityRules.defaultConfig,
    "cheap" -> QualityRules.cheapConfig,
    "grammar" -> QualityRules.cheapConfig.copy(grammarEnabled = true),
    "product" -> QualityRules.productConfig
  ).foreach { case (name, cfg) =>
    test(s"metrics == the crossJoin oracle, to the JSON bytes ($name config)") {
      val curated = Curate.curateDf(spark, turns, cfg).cache()
      try {
        val got = Curate.metrics(curated, 7)
        val want = LegacyMetrics(curated, 7)
        assert(got.columns.toSeq == want.columns.toSeq)
        assert(got.collect().toSeq == want.collect().toSeq)
        assert(json(got) == json(want))
        assert(Curate.partitionMetrics(7, sums(curated)) == LegacyMetrics.row(curated, 7))
      } finally curated.unpersist()
    }
  }

  test("metrics over no rows: zero seen, null sums, empty maps — as the oracle") {
    val empty = Curate.curateDf(spark, turns.limit(0))
    val got = json(Curate.metrics(empty))
    assert(got == json(LegacyMetrics(empty)))
    assert(got == Seq(Row(0, 0L, null, null, "{}", "{}")))
    assert(Curate.partitionMetrics(0, sums(empty)) ==
      PartitionMetrics(0, 0L, None, None, Map.empty, Map.empty))
  }

  private def curatedRows(rows: (Boolean, String, Map[String, Int])*): DataFrame = {
    import spark.implicits._
    rows.toDF("keep", "drop_reason", "scrub_hits")
  }

  test("a drop_reason outside QualityRules.ruleOrder fails loudly, not left out") {
    val df = curatedRows((true, null, Map("url" -> 1)), (false, "bogus", Map.empty))
    val e = intercept[IllegalArgumentException](Curate.partitionMetrics(3, sums(df)))
    assert(e.getMessage.contains("part 3") && e.getMessage.contains("QualityRules.ruleOrder"))
    val q = intercept[Exception](Curate.metrics(df).collect())
    assert(q.getMessage.contains("QualityRules.ruleOrder"))
  }

  test("a scrub key outside Scrubber.patternSpecs fails loudly, not left out") {
    val df = curatedRows((true, null, Map("url" -> 1, "bogus" -> 2)), (false, "ppl", Map.empty))
    val e = intercept[IllegalArgumentException](Curate.partitionMetrics(4, sums(df)))
    assert(e.getMessage.contains("part 4") && e.getMessage.contains("Scrubber.patternSpecs"))
    val q = intercept[Exception](Curate.metrics(df).collect())
    assert(q.getMessage.contains("Scrubber.patternSpecs"))
  }

  test("a key present with zero hits stays in scrub_hit_counts, as the oracle keeps it") {
    val df = curatedRows((true, null, Map("url" -> 0)), (false, "ppl", Map("email" -> 2)))
    assert(json(Curate.metrics(df)) == json(LegacyMetrics(df)))
    assert(Curate.partitionMetrics(0, sums(df)).scrub_hit_counts ==
      Map("url" -> 0L, "email" -> 2L))
  }
}
