package graft.textan

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** PII-style text scrubbing for training-data preparation (north-star
  * extension, BASELINE.json): emails, URLs, then long digit runs are
  * replaced with typed placeholders. Pure `regexp_replace` chain —
  * codegen'd, zero shuffle, and oracle-portable (the same RE2-safe
  * patterns run in DuckDB with the 'g' flag).
  *
  * Replacement order matters and is part of the spec: emails first
  * (their local part may contain digit runs), then URLs (paths often
  * embed ids), then any remaining run of ≥4 digits.
  */
object Scrub {
  val EmailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  // explicit whitespace class ([[graft.text.Tok.Ws]]): Java `\s`
  // includes VT, RE2's does not — spelled out so both engines agree
  val UrlRe = s"https?://[^${graft.text.Tok.Ws}]+"
  val NumRe = "[0-9]{4,}"

  def redact(c: Column): Column =
    regexp_replace(
      regexp_replace(
        regexp_replace(c, EmailRe, "<EMAIL>"),
        UrlRe, "<URL>"),
      NumRe, "<NUM>")

  /** Unicode NFC normalization — the canonical-composition pass every
    * multilingual training pipeline runs before hashing/dedup (the
    * same text in composed vs decomposed form must fingerprint
    * identically). A UDF by necessity: Spark has no builtin Unicode
    * normalizer, and `java.text.Normalizer` (JDK, Unicode-standard
    * NFC) is the public implementation; still a pure per-row map in
    * the scan stage, zero shuffle. DuckDB's `nfc_normalize` applies
    * the identical standard, so the pass is oracle-checkable. */
  val normalizeNfc: Column => Column = {
    val f = udf((s: String) =>
      if (s == null) null
      else java.text.Normalizer.normalize(s, java.text.Normalizer.Form.NFC))
    (c: Column) => f(c)
  }
}
