package perfbench

import graft.pipeline.{Curate, CurateCore}
import graft.rules.{GrammarRules, QualityRules}
import graft.scrub.Scrubber

/** Single-thread timings of the curate kernel's public functions on a
  * fixed sample of turns. Each function runs only on the rows that
  * `CurateCore.process` would hand it (the gating is read back from
  * each row's drop reason), so per-call costs times calls per row add
  * up to the fused kernel's per-row cost; what is left is the cheap
  * scalar rules and result assembly (`cheap_self_ns_per_row`).
  */
object Kernel {

  /** Drop reasons decided before grammar rules run. */
  val cheapReasons: Set[String] =
    Set("empty", "too_short", "too_long", "repetition", "symbol_ratio", "boilerplate")

  def reachesGrammar(reason: String): Boolean = !cheapReasons(reason)
  def reachesLangId(reason: String): Boolean = reason == null || reason == "lang" || reason == "ppl"
  def reachesLm(reason: String): Boolean = reason == null || reason == "ppl"

  @volatile private var sink = 0L

  /** Median over passes of ns per call of `f` over `rows`; passes run
    * until `budgetMs` is spent (at least three).
    */
  def nsPerCall(rows: Array[String], budgetMs: Long)(f: String => Any): Double = {
    if (rows.isEmpty) return 0.0
    val passes = scala.collection.mutable.ArrayBuffer[Double]()
    val stop = System.nanoTime() + budgetMs * 1000000L
    while (passes.length < 3 || System.nanoTime() < stop) {
      var h = 0L
      val t0 = System.nanoTime()
      var i = 0
      while (i < rows.length) { h += f(rows(i)).hashCode; i += 1 }
      passes += (System.nanoTime() - t0).toDouble / rows.length
      sink += h
    }
    Stats.median(passes.toSeq)
  }

  /** Per-call costs of the kernel's functions, measured in `rounds`
    * interleaved rounds of about `roundMs` per function after 1.5 s
    * of untimed rounds; each cost is the median over rounds, so a JIT
    * compile or a host hiccup during one round does not skew one function.
    */
  def measure(texts: Array[String], models: Curate.Models,
      cfg: QualityRules.Config, rounds: Int, roundMs: Long): Map[String, Double] = {
    val core = new CurateCore(models.langId, models.lm, cfg)
    val reasons = texts.map(t => core.process(t).drop_reason)
    val n = texts.length.toDouble
    val toGrammar = texts.zip(reasons).collect { case (t, r) if reachesGrammar(r) => t }
    val toLang = texts.zip(reasons).collect { case (t, r) if reachesLangId(r) => t }
    val toLm = texts.zip(reasons).collect { case (t, r) if reachesLm(r) => t }
    val timed: Seq[(String, Array[String], String => Any)] = Seq(
      ("pipeline.core_ns_per_row", texts, core.process),
      ("scrub.ns_per_row", texts, Scrubber.scrub),
      ("grammar.rule_hits_ns_per_call", toGrammar, GrammarRules.ruleHits(_, withContext = false)),
      ("langid.ns_per_call", toLang, models.langId.predict),
      ("lm.ns_per_call", toLm, models.lm.perplexity))
    def round() = timed.map { case (k, rows, f) => k -> nsPerCall(rows, roundMs)(f) }.toMap
    // on a workload that never ran the kernel its code is still
    // interpreted or only partly compiled
    val warmUntil = System.nanoTime() + 1500000000L
    while (System.nanoTime() < warmUntil) round()
    val samples = (1 to rounds).map(_ => round())
    val ns = timed.map { case (k, _, _) => k -> Stats.median(samples.map(_(k))) }.toMap
    val gPerRow = toGrammar.length / n
    val lPerRow = toLang.length / n
    val mPerRow = toLm.length / n
    ns ++ Map(
      "pipeline.cheap_self_ns_per_row" -> (ns("pipeline.core_ns_per_row") -
        ns("scrub.ns_per_row") - gPerRow * ns("grammar.rule_hits_ns_per_call") -
        lPerRow * ns("langid.ns_per_call") - mPerRow * ns("lm.ns_per_call")),
      "pipeline.kept_per_row" -> reasons.count(_ == null) / n,
      "grammar.calls_per_row" -> gPerRow,
      "langid.calls_per_row" -> lPerRow,
      "lm.calls_per_row" -> mPerRow)
  }
}
