package graft.ops

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** PII detection and redaction for training-data pipelines: emails,
  * IPv4 addresses, international-format phone numbers. Pure per-row
  * regex transforms (codegen'd `regexp_replace`/`regexp_count`, no UDFs,
  * no shuffle) — at 100 TB this runs at scan speed, which is exactly how
  * corpus redaction passes are run in practice.
  *
  * Patterns are deliberately conservative and RE2-compatible (no
  * lookaround, no backreferences) so the same pattern strings run
  * unchanged in Spark (Java regex) and the DuckDB oracle (RE2) — the
  * `tx_redact` CORRECTNESS entry holds both engines to identical output.
  */
object Redaction {

  val EmailPattern = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val Ipv4Pattern = "([0-9]{1,3}\\.){3}[0-9]{1,3}"
  /** International-ish: +CC then 6-14 digits with space/dash/paren
    * separators, ending in a digit. */
  val PhonePattern = "\\+[0-9]{1,3}[0-9 ()\\-]{5,13}[0-9]"

  val EmailToken = "[EMAIL]"
  val IpToken = "[IP]"
  val PhoneToken = "[PHONE]"

  /** Redact all three PII classes. Email runs first (an address contains
    * dots and digits, but neither other pattern can match across the
    * replaced token), then IP, then phone. */
  def redactPii(text: Column): Column =
    regexp_replace(
      regexp_replace(
        regexp_replace(text, EmailPattern, EmailToken),
        Ipv4Pattern, IpToken),
      PhonePattern, PhoneToken)

  /** Per-class PII hit counts (audit signal: route documents with heavy
    * PII density to quarantine instead of silently scrubbing). */
  def emailCount(text: Column): Column = regexp_count(text, lit(EmailPattern))
  def ipCount(text: Column): Column = regexp_count(text, lit(Ipv4Pattern))
  def phoneCount(text: Column): Column = regexp_count(text, lit(PhonePattern))
}
