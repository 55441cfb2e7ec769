package graft.text

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** URL extraction + canonicalization — the web-corpus curation step that
  * turns free text into joinable provenance keys (per-domain budgets,
  * blocklist joins, URL-level dedup all key on the *normalized* URL, not
  * the raw string).
  *
  * Normalization: lowercase scheme+host, strip a leading `www.`, drop the
  * fragment, and remove `utm_*` tracking parameters while preserving the
  * order of the survivors — each step a codegen'd regex/array op with an
  * exact cross-engine SQL replica (Java-regex ∩ RE2 subset, per the oracle
  * discipline in NOTES.md). No UDFs; scales as a pure projection.
  */
object Urls {

  /** All http(s) URLs in the text, exploded one per row as `url`. */
  def extractUrls(df: DataFrame): DataFrame =
    df.withColumn("url",
      explode(regexp_extract_all(col("text"), lit("https?://[^\\s]+"), lit(0))))

  /** Host with `www.` stripped, lowercased — the per-domain grouping key. */
  def domainOf(url: Column): Column =
    regexp_replace(lower(regexp_extract(url, "^https?://([^/?#]+)", 1)),
      "^www\\.", "")

  /** Canonical form: lowercase scheme + normalized host + path, `utm_*`
    * params dropped (survivor order preserved), fragment removed.
    */
  def normalizeUrl(url: Column): Column = {
    val noFrag = regexp_replace(url, "#.*$", "")
    val scheme = lower(regexp_extract(noFrag, "^(https?)", 1))
    val path = regexp_extract(noFrag, "^https?://[^/?#]+([^?#]*)", 1)
    val query = regexp_extract(noFrag, "\\?([^#]*)", 1)
    val kept = array_join(
      filter(split(query, "&"), p => !p.startsWith("utm_")), "&")
    concat(scheme, lit("://"), domainOf(noFrag), path,
      when(kept =!= "", concat(lit("?"), kept)).otherwise(lit("")))
  }

  /** Per-(domain, normalized URL) occurrence counts over a corpus. */
  def urlStats(df: DataFrame): DataFrame = {
    val u = extractUrls(df)
    u.select(domainOf(col("url")).as("domain"),
        normalizeUrl(col("url")).as("url_norm"))
      .groupBy(col("domain"), col("url_norm"))
      .agg(count(lit(1)).as("n"))
  }
}
