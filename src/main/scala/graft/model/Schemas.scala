package graft.model

import java.sql.Timestamp

/** Core row types of the curation engine (SURVEY.md §1.2).
  *
  * `Turn` is the input row of the transcripts table
  * (BASELINE.json `input_hint`): the transcript turn plays the role of
  * the reference's text *chunk* (reference: smart_corrector.py:64,
  * text_chunker.py:22-58) and `conv_id` the role of its *document*
  * (smart_corrector.py:47-100). `(conv_id, turn_idx)` is the primary
  * key, mirroring the reference's `chunk_id = md5(url)_i`
  * (data_manager.py:111).
  */
final case class Turn(
    conv_id: String,
    turn_idx: Int,
    role: String,
    text: String,
    tool: String,
    ts: Timestamp
)

/** Output row of the curation pipeline — the rebuild of the reference's
  * `CorrectionResult` (smart_corrector.py:18-26): keep/drop decision +
  * scrubbed text + audit columns.
  */
final case class CuratedTurn(
    conv_id: String,
    turn_idx: Int,
    role: String,
    text: String,
    tool: String,
    ts: Timestamp,
    lang: String,
    lang_conf: Double,
    ppl: Double,
    rule_hits: Seq[String],
    keep: Boolean,
    drop_reason: String, // null when keep
    scrubbed_text: String,
    scrub_hits: Map[String, Int]
)

/** Per-partition metrics row — rebuild of the reference's
  * `correction_stats` (smart_corrector.py:90-96, 252-260). turns_kept
  * and turns_dropped are sums, None (null) over no rows.
  */
final case class PartitionMetrics(
    part_id: Int,
    turns_seen: Long,
    turns_kept: Option[Long],
    turns_dropped: Option[Long],
    dropped_by_rule: Map[String, Long],
    scrub_hit_counts: Map[String, Long]
)

/** Ground-truth sidecar row emitted by the synth generator — never
  * visible to the engine; drives langid F1 + golden keep/drop tests
  * (FIXTURES.md F1/F2).
  */
final case class TurnLabel(
    conv_id: String,
    turn_idx: Int,
    true_lang: String,
    planted: Seq[String] // e.g. "email","url","phone","key","slur","boilerplate","short","repetition","symbols","grammar"
)
