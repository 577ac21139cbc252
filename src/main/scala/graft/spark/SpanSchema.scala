package graft.spark

/** Input row shape — BASELINE.json input_hint:
  * (doc_id string, spans array<struct<kind,text,media_ref,offset:int>>). */
final case class SpanRow(kind: String, text: String, media_ref: String, offset: Int)
final case class DocRow(doc_id: String, spans: Seq[SpanRow])

/** Per-partition lineage row (north_rule: per-partition lineage + metrics;
  * SURVEY §1.3 metrics schema). */
final case class MetricsRow(
    batch_id: Int,
    partition_id: Int,
    docs_in: Long,
    docs_ok: Long,
    docs_failed: Long,
    spans_out: Long,
    bytes_in: Long, // UTF-8 bytes of the docs' span texts
    wall_ms: Long,
    first_doc_id: String,
    last_doc_id: String
)
