package graft.model

import java.sql.Timestamp

/** Core data model (SURVEY.md §1).
  *
  * `WebDoc` is the typed input contract per BASELINE.json `input_hint`:
  * an Iceberg/Parquet table of Common-Crawl-style web pages. It corresponds
  * row-for-row to the reference's `Paper` dataclass
  * (reference: models/paper.py:7-19): pdf_url→url, submission_date→warc_ts,
  * PDF bytes→html, full_text→text, English-detection→lang.
  */
final case class WebDoc(
    url: String,
    warc_ts: Timestamp,
    html: Array[Byte],
    text: String,
    lang: String
)
