package graft.text

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text-cleansing scalar operators (SURVEY.md §2.3, T1-T6) as pure Column
  * transforms — everything stays inside whole-stage codegen (builtin string
  * + higher-order array functions, no UDFs on the hot path).
  *
  * Intended semantics of the reference's `_cleanse` (wrangler.py:314-341)
  * and `remove_useless_data` (utility.py:181-208), de-bugged: the reference
  * mutates the line list during iteration (skipping alternating lines) and
  * iterates characters instead of words; we implement the documented
  * line-wise / token-wise intent.
  */
object Cleanse {

  // T5 PII token predicates (wrangler.py:327-339, utility.py:196-206):
  // email, URL, UUID, MD5 hex, IPv4 — anchored, shared verbatim with the
  // DuckDB oracle (Java regex ∩ RE2 common subset: no POSIX classes).
  val EmailRe = "^[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}$"
  val UrlRe   = "^https?://[^ ]+$"
  val UuidRe  = "^[0-9a-fA-F]{8}-[0-9a-fA-F]{4}-[0-9a-fA-F]{4}-[0-9a-fA-F]{4}-[0-9a-fA-F]{12}$"
  val Md5Re   = "^[0-9a-fA-F]{32}$"
  val Ipv4Re  = "^([0-9]{1,3}\\.){3}[0-9]{1,3}$"
  val PiiRe: String = Seq(EmailRe, UrlRe, UuidRe, Md5Re, Ipv4Re).mkString("|")

  /** T4: split to lines, keep only alnum/space lines, re-join
    * (wrangler.py:316-325 intent — drop blank/punct-only noise lines). */
  def keepAlnumLines(c: Column): Column =
    array_join(filter(split(c, "\\r?\\n"), l => l.rlike("^[A-Za-z0-9 ]+$")), " ")

  /** Whitespace tokenization with empty tokens dropped (both engines keep
    * trailing empties differently — filtering "" makes them agree). */
  def tokens(c: Column): Column =
    filter(split(trim(c), " "), t => t =!= "")

  /** T5: drop tokens matching any PII pattern. */
  def scrubPii(toks: Column): Column = filter(toks, t => !t.rlike(PiiRe))

  /** T4∘T5 composed cleanse to a token array (the wrangling core). */
  def cleanseTokens(text: Column): Column = scrubPii(tokens(keepAlnumLines(text)))

  /** T1: html unescape — native codegen'd expression, see expressions.scala. */
  def htmlUnescape(c: Column): Column = TextFunctions.html_unescape(c)

  /** T2: NFKC normalization — native codegen'd expression. */
  def normalizeNfkc(c: Column): Column = TextFunctions.normalize_nfkc(c)

  /** Full reference cleanse chain (T1→T2→T4/T3→T5), one fused projection. */
  def cleanse(text: Column): Column =
    array_join(cleanseTokens(normalizeNfkc(htmlUnescape(text))), " ")
}
