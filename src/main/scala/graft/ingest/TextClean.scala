package graft.ingest

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** The reference's ingestion dataflow (I2-I7 in SURVEY.md §2.A) as pure
  * column expressions — no UDFs, everything stays inside whole-stage codegen.
  */
object TextClean {

  /** I6 — `clean_text` (/root/reference/src/crwling.py:37-43): strip HTML
    * tags, normalize `\n\t\r` to spaces, remove zero-width spaces, trim. */
  def cleanText(c: Column): Column =
    trim(regexp_replace(regexp_replace(regexp_replace(c,
      "<[^>]*>", ""),
      "[\\n\\t\\r]", " "),
      "​", ""))

  /** I3 — link filter (/root/reference/src/crwling.py:146-147): drop rows
    * without an href or linking back to google.com. */
  def validLink(c: Column): Column =
    c.isNotNull && !c.contains("google.com")

  /** I4 — title filter (/root/reference/src/crwling.py:149-153): trimmed
    * title at least 5 chars. */
  def validTitle(c: Column): Column =
    length(trim(coalesce(c, lit("")))) >= 5

  /** I7 — record assembly default (/root/reference/src/crwling.py:165-170):
    * publisher falls back to "Google News". */
  def publisherOrDefault(c: Column): Column =
    coalesce(c, lit("Google News"))
}
