package graft.pipeline

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession, functions => F}

import graft.langid.{LangId, LangIdModel}
import graft.lm.NGramLM
import graft.model.{PartitionMetrics, Turn}
import graft.rules.{GrammarRules, QualityRules}
import graft.scrub.Scrubber
import graft.synth.Transcripts

/** The curation DAG (SURVEY.md §3 "Spark rebuild of this lifecycle"):
  *
  *   transcripts → langid → cheap quality rules → (gated) grammar rules
  *   → (gated) perplexity → keep/drop decision → scrub → curated
  *
  * One lazily-built DataFrame plan, map-only (NO shuffle on the hot
  * path — the per-turn pipeline is embarrassingly parallel; the
  * commit's metrics are observed on the write, see [[metricSums]]).
  *
  * Expensive-operator gating is STRUCTURAL, mirroring the reference's
  * "only error chunks reach the LLM" short-circuit
  * (smart_corrector.py:114-128, SURVEY.md §4): grammar-rule extraction
  * and perplexity scoring are wrapped in `when(<cheap rules passed>)`
  * so rows already dropped by a cheap column-expression rule never pay
  * for a UDF call.
  *
  * Model state (langid weights, n-gram table) is broadcast explicitly
  * (SURVEY.md §4.2) — one compact block per executor, not per task.
  */
object Curate {

  /** Broadcast-able model bundle; trained deterministically from the
    * seeded synth corpus (SURVEY.md §7.4: no external data).
    */
  final case class Models(langId: LangIdModel, lm: NGramLM) extends Serializable

  /** One deterministic default bundle per JVM. */
  lazy val defaultModels: Models = {
    val corpus = Transcripts.trainingCorpus()
    Models(LangId.train(corpus), NGramLM.train(corpus.map(_._1)))
  }

  val dropWhenPplMissing: Double = Double.NaN

  /** Add lang/lang_conf/ppl/rule_hits/keep/drop_reason/scrubbed_text/
    * scrub_hits columns to a transcripts DataFrame. Pure projection —
    * preserves partitioning, no shuffle; schema =
    * [[graft.model.CuratedTurn]]. Uses the fused [[CurateCore]] kernel
    * (one string conversion + one scan per row — see CurateCore doc for
    * why this beats the unfused column chain, which remains available
    * as [[curateDfUnfused]] and is asserted semantically identical by
    * GoldenPipelineSpec).
    */
  def curateDf(
      spark: SparkSession,
      turns: DataFrame,
      cfg: QualityRules.Config = QualityRules.defaultConfig,
      models: Models = defaultModels
  ): DataFrame = {
    val bCore: Broadcast[CurateCore] = spark.sparkContext.broadcast(
      new CurateCore(models.langId, models.lm, cfg))
    val coreU = F.udf((t: String) => bCore.value.process(t))
    turns
      .withColumn("__c", coreU(F.col("text")))
      .select(
        F.col("conv_id"), F.col("turn_idx"), F.col("role"), F.col("text"),
        F.col("tool"), F.col("ts"),
        F.col("__c.lang").as("lang"), F.col("__c.lang_conf").as("lang_conf"),
        F.col("__c.ppl").as("ppl"), F.col("__c.rule_hits").as("rule_hits"),
        F.col("__c.keep").as("keep"), F.col("__c.drop_reason").as("drop_reason"),
        F.col("__c.scrubbed_text").as("scrubbed_text"),
        F.col("__c.scrub_hits").as("scrub_hits"))
  }

  /** The original unfused column pipeline — kept as the reference
    * implementation (declarative column expressions, per-stage UDFs,
    * structural gating) and for plan-shape demonstrations; semantics
    * identical to [[curateDf]].
    */
  def curateDfUnfused(
      spark: SparkSession,
      turns: DataFrame,
      cfg: QualityRules.Config = QualityRules.defaultConfig,
      models: Models = defaultModels
  ): DataFrame = {
    val bModels: Broadcast[Models] = spark.sparkContext.broadcast(models)

    val langU = F.udf((t: String) => bModels.value.langId.predict(t))
    val pplU = F.udf((t: String) => bModels.value.lm.perplexity(t))
    val hitsU = F.udf((t: String) =>
      GrammarRules.ruleHits(t, withContext = false).map(_.rule_id))
    val cykU = F.udf((t: String) => GrammarRules.cykInvalidCount(t, cfg.cykMaxWords))
    val scrubU = Scrubber.scrubUdf

    val text = F.col("text")
    // custom codegen expressions whose whitespace/symbol semantics are
    // bit-identical to CurateCore's (Character.isWhitespace /
    // isLetterOrDigit) — the generic built-ins (trim strips only
    // spaces, \s is ASCII-only) diverge on tab/newline-only and
    // unicode-whitespace rows
    val wc = graft.functions.TextMetrics.word_count(text)

    // cheap scalar rules — pure codegen'd column expressions, evaluated
    // in the fixed QualityRules.ruleOrder (drop_reason = FIRST failure)
    val cheapDrop: Column =
      F.when(text.isNull || wc === 0, "empty")
        .when(wc < cfg.minWords, "too_short")
        .when(wc > cfg.maxWords || F.length(text) > cfg.maxChars, "too_long")
        .when(wc >= cfg.repMinWords &&
          QualityRules.distinctRatioCol(text) < cfg.minDistinctRatio, "repetition")
        .when(graft.functions.TextMetrics.symbol_ratio(text) > cfg.maxSymbolRatio, "symbol_ratio")
        .when(QualityRules.boilerplateCol(text), "boilerplate")

    val withCheap = turns.withColumn("__cheap", cheapDrop)

    // gated grammar hits (empty for already-dropped rows)
    val withHits = withCheap.withColumn(
      "rule_hits",
      if (!cfg.grammarEnabled) F.typedlit(Seq.empty[String])
      else F.when(F.col("__cheap").isNotNull, F.typedlit(Seq.empty[String]))
        .otherwise(hitsU(text)))

    val afterGrammar =
      if (!cfg.grammarEnabled) F.col("__cheap")
      else F.coalesce(
        F.col("__cheap"),
        F.when(F.size(F.col("rule_hits")) >= cfg.maxRuleHits, "grammar"))

    val afterCyk =
      if (cfg.cykEnabled)
        F.coalesce(afterGrammar,
          F.when(cykU(text) >= cfg.cykMaxInvalid, "cyk"))
      else afterGrammar

    // langid gated behind the cheap/grammar/cyk rules (verdict #6):
    // already-dropped rows carry the ("und", 0.0) sentinel
    val withLang = withHits
      .withColumn("__pre_lang", afterCyk)
      .withColumn("__lang",
        if (!cfg.langIdEnabled)
          F.struct(F.lit("und").as("_1"), F.lit(0.0).as("_2"))
        else F.when(F.col("__pre_lang").isNotNull,
          F.struct(F.lit("und").as("_1"), F.lit(0.0).as("_2")))
          .otherwise(langU(text)))
      .withColumn("lang", F.col("__lang._1"))
      .withColumn("lang_conf", F.col("__lang._2"))

    val langOk = F.col("lang").isInCollection(cfg.allowedLangs) &&
      F.col("lang_conf") >= cfg.minLangConf
    val afterLang =
      if (!cfg.langIdEnabled) F.col("__pre_lang")
      else F.coalesce(F.col("__pre_lang"), F.when(!langOk, "lang"))

    val withPpl = withLang
      .withColumn("__pre_ppl", afterLang)
      .withColumn(
        "ppl",
        if (cfg.pplEnabled)
          F.when(F.col("__pre_ppl").isNotNull, F.lit(dropWhenPplMissing))
            .otherwise(pplU(text))
        else F.lit(dropWhenPplMissing))

    val dropReason =
      if (cfg.pplEnabled)
        F.coalesce(F.col("__pre_ppl"), F.when(F.col("ppl") > cfg.maxPpl, "ppl"))
      else F.col("__pre_ppl")

    withPpl
      .withColumn("drop_reason", dropReason)
      .withColumn("keep", F.col("drop_reason").isNull)
      .withColumn("__scrub", scrubU(text))
      .withColumn("scrubbed_text", F.col("__scrub.scrubbed"))
      .withColumn("scrub_hits", F.col("__scrub.hits"))
      .select(
        "conv_id", "turn_idx", "role", "text", "tool", "ts",
        "lang", "lang_conf", "ppl", "rule_hits", "keep", "drop_reason",
        "scrubbed_text", "scrub_hits")
  }

  def curate(
      spark: SparkSession,
      turns: Dataset[Turn],
      cfg: QualityRules.Config = QualityRules.defaultConfig,
      models: Models = defaultModels
  ): Dataset[graft.model.CuratedTurn] = {
    import spark.implicits._
    curateDf(spark, turns.toDF(), cfg, models).as[graft.model.CuratedTurn]
  }

  private def ruleCount(r: String) = s"dropped_$r"
  private def scrubSum(k: String) = s"scrub_$k"
  private def scrubRows(k: String) = s"scrub_rows_$k"
  private val scrubEntries = "scrub_entries"
  private def scrubKeys: Seq[String] = Scrubber.patternSpecs.map(_._1)

  /** The per-partition metric sums, defined once: observed on
    * `Resume`'s commit write and aggregated by [[metrics]]. Both key
    * sets are fixed (QualityRules.ruleOrder, Scrubber.patternSpecs),
    * so every figure is a scalar sum: per rule the rows it dropped, per
    * scrub key the summed hits and the rows carrying the key, plus the
    * total scrub entries, which exposes a key outside the fixed set.
    */
  lazy val metricSums: Seq[Column] = {
    val hits = F.col("scrub_hits")
    Seq(
      F.count(F.lit(1)).as("turns_seen"),
      F.sum(F.when(F.col("keep"), 1L).otherwise(0L)).as("turns_kept"),
      F.sum(F.when(F.col("keep"), 0L).otherwise(1L)).as("turns_dropped"),
      F.sum(F.when(hits.isNotNull, F.size(hits))).as(scrubEntries)) ++
      QualityRules.ruleOrder.map(r =>
        F.sum(F.when(F.col("drop_reason") === r, 1L).otherwise(0L)).as(ruleCount(r))) ++
      scrubKeys.flatMap(k => Seq(
        F.sum(hits(k)).as(scrubSum(k)),
        F.count(hits(k)).as(scrubRows(k))))
  }

  private val unknownRule =
    "per-rule drop counts do not add up to turns_dropped: " +
      "a drop_reason outside QualityRules.ruleOrder"
  private val unknownScrubKey =
    "per-key scrub rows do not add up to the scrub entries: " +
      "a scrub key outside Scrubber.patternSpecs"

  /** The metrics row of one partition from the values of
    * [[metricSums]] by name (an observation, or a row of [[metrics]]'s
    * aggregate). Maps keep only keys that occurred; over no rows
    * turns_kept and turns_dropped are None, as [[metrics]]'s nulls.
    * Fails if a drop reason or scrub key lies outside the fixed sets,
    * instead of leaving it out of the maps.
    */
  def partitionMetrics(partId: Int, sums: Map[String, Any]): PartitionMetrics = {
    require(sums.nonEmpty, s"part $partId: no metrics were observed")
    def opt(name: String): Option[Long] =
      Option(sums(name)).map(_.asInstanceOf[Number].longValue)
    def long(name: String): Long = opt(name).getOrElse(0L)
    val byRule = QualityRules.ruleOrder.map(r => r -> long(ruleCount(r)))
    val rows = scrubKeys.map(k => k -> long(scrubRows(k)))
    require(byRule.map(_._2).sum == long("turns_dropped"), s"part $partId: $unknownRule")
    require(rows.map(_._2).sum == long(scrubEntries), s"part $partId: $unknownScrubKey")
    PartitionMetrics(partId, long("turns_seen"), opt("turns_kept"), opt("turns_dropped"),
      byRule.filter(_._2 > 0).toMap,
      rows.collect { case (k, n) if n > 0 => k -> long(scrubSum(k)) }.toMap)
  }

  /** Per-run metrics — rebuild of the reference's summary aggregates
    * (smart_corrector.py:229-260, SURVEY.md §2.9 A2): one aggregate
    * over [[metricSums]], then a projection into the two maps
    * (sorted keys, zero-count keys left out, `{}` when none). Over no
    * rows, turns_kept and turns_dropped are null. Fails, like
    * [[partitionMetrics]], on a drop reason or scrub key outside the
    * fixed sets.
    */
  def metrics(curated: DataFrame, partId: Int = 0): DataFrame = {
    def sorted(entries: Seq[(String, String, String)]): Column =
      F.map_from_entries(F.transform(
        F.filter(
          F.array(entries.sortBy(_._1).map { case (k, v, n) =>
            F.struct(F.lit(k).as("k"), F.col(v).as("v"), F.col(n).as("n"))
          }: _*),
          e => e.getField("n") > 0),
        e => F.struct(e.getField("k"), e.getField("v"))))
    def total(cols: Seq[String]): Column =
      cols.map(c => F.coalesce(F.col(c), F.lit(0L))).reduce(_ + _)
    curated
      .agg(metricSums.head, metricSums.tail: _*)
      .select(
        F.lit(partId).as("part_id"),
        F.col("turns_seen"),
        F.col("turns_kept"),
        F.when(total(QualityRules.ruleOrder.map(ruleCount)) =!= total(Seq("turns_dropped")),
          F.raise_error(F.lit(unknownRule)))
          .when(total(scrubKeys.map(scrubRows)) =!= total(Seq(scrubEntries)),
            F.raise_error(F.lit(unknownScrubKey)))
          .otherwise(F.col("turns_dropped")).as("turns_dropped"),
        sorted(QualityRules.ruleOrder.map(r => (r, ruleCount(r), ruleCount(r))))
          .as("dropped_by_rule"),
        sorted(scrubKeys.map(k => (k, scrubSum(k), scrubRows(k))))
          .as("scrub_hit_counts"))
  }

  /** Two-phase ordered per-conversation reassembly (SURVEY.md §2.7 R3
    * at scale): a 10^5-turn conversation would make a naive
    * groupBy(conv_id).collect_list a single hot reducer holding the
    * whole conversation. Phase 1 groups by (conv_id, turn_idx/blockSize)
    * — bounded state per group regardless of conversation length —
    * and concatenates each block in turn order; phase 2 concatenates
    * the (few) block strings per conversation in block order. Result
    * is byte-identical to the naive reassembly (asserted in tests).
    */
  def reassembleTwoPhase(curated: DataFrame, blockSize: Int = 1024): DataFrame = {
    val block = (F.col("turn_idx") / blockSize).cast("int").as("block")
    val partial = curated
      .filter(F.col("keep"))
      .groupBy(F.col("conv_id"), block)
      .agg(
        F.count(F.lit(1)).as("n_turns"),
        F.concat_ws(" ",
          F.transform(
            F.array_sort(F.collect_list(F.struct(F.col("turn_idx"), F.col("scrubbed_text")))),
            x => x.getField("scrubbed_text"))).as("part"))
    partial
      .groupBy("conv_id")
      .agg(
        F.sum("n_turns").as("n_turns"),
        F.concat_ws(" ",
          F.transform(
            F.array_sort(F.collect_list(F.struct(F.col("block"), F.col("part")))),
            x => x.getField("part"))).as("reassembled"))
  }

  /** Salted two-phase per-conversation aggregation (SURVEY.md §4.1):
    * partial aggregates per (conv_id, salt) spread a hot conversation
    * over `salt` reducers, the final per-conv step combines `salt`
    * tiny rows. (Spark's hash aggregate already does partial+final
    * map-side combine for these; the explicit salt additionally bounds
    * REDUCER-side group size for pathological keys, and is the pattern
    * a conv-level heavy aggregation must follow at 10^12 turns.)
    */
  def convStatsSalted(curated: DataFrame, salt: Int = 16): DataFrame = {
    val partial = curated
      .groupBy(F.col("conv_id"), F.pmod(F.hash(F.col("turn_idx")), F.lit(salt)).as("__salt"))
      .agg(
        F.count(F.lit(1)).as("n"),
        F.sum(F.when(F.col("keep"), 1L).otherwise(0L)).as("kept"),
        F.sum(F.length(F.col("scrubbed_text")).cast("long")).as("chars"))
    partial
      .groupBy("conv_id")
      .agg(
        F.sum("n").as("n_turns"),
        F.sum("kept").as("n_kept"),
        (F.sum("chars") / F.sum("n")).as("avg_chars"))
  }

  /** Skew-safe repartition for the WRITE path (SURVEY.md §4.1): spread
    * a hot conv_id over `salt` buckets while keeping (conv_id,
    * turn_idx) runs sorted within each output file — per-turn outputs
    * stay byte-identical run-to-run.
    */
  def saltedForWrite(df: DataFrame, numPartitions: Int, salt: Int = 16): DataFrame =
    df.repartition(numPartitions, F.col("conv_id"),
        F.pmod(F.hash(F.col("turn_idx")), F.lit(salt)))
      .sortWithinPartitions("conv_id", "turn_idx")
}
