package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Shared text primitives for the dedup / text-analysis operators.
  * Every helper is a pure Column expression (codegen'd or
  * higher-order builtin, never a Scala UDF) and each has an exact
  * DuckDB equivalent so results stay oracle-checkable:
  *
  *   tokens(c)    ~ list_filter(string_split_regex(c, '\s+'), t -> t != '')
  *   shingles3(t) ~ list_distinct(list_transform(range(1, len(t)-1),
  *                    i -> array_to_string(t[i:i+2], ' ')))
  */
object Text {

  /** Whitespace tokenization. Deliberately NOT `split(trim(c))`:
    * Java trim strips every char ≤ U+0020 while SQL trim strips
    * spaces only, so a tab/newline-leading doc would tokenize
    * differently in the two engines. Splitting untrimmed and
    * dropping empty tokens is unambiguous in both. */
  def tokens(c: Column): Column =
    filter(split(c, "\\s+"), t => t =!= "")

  /** Engine-portable rounding: `floor(x·10^s + 0.5)/10^s` — identical
    * IEEE ops in any engine (HALF_UP for positives, half-toward-+inf
    * for negatives; what matters is that both sides compute the same
    * bits). Spark's `round()` rounds the shortest decimal string of
    * the double (BigDecimal.valueOf) while DuckDB rounds the binary
    * value, so they disagree on values like 0.49025 whose double is
    * just below the half-boundary; ratios of small integers hit such
    * values constantly. Used for EVERY rounded double the oracle
    * compares; SQL mirror: floor(x * 1e4 + 0.5) / 1e4. */
  def roundPortable(c: Column, scale: Int): Column = {
    val p = math.pow(10, scale)
    floor(c * p + 0.5) / p
  }

  /** Distinct 3-gram word shingles of a text column (empty for docs
    * under 3 tokens) — the native one-pass [[ShinglesW]] kernel. */
  def shingles3(text: Column): Column = ShinglesW(text, 3)

  /** Seeded MinHash component: min over shingles of md5("<seed>|" + s).
    * Using the md5 *string* min (lexicographic) keeps the signature
    * reproducible in any engine with md5 — no engine-specific hash. */
  def minhash(shingles: Column, seed: Int): Column =
    array_min(transform(shingles, x => md5(concat(lit(s"$seed|"), x))))

  /** LSH band hash over two adjacent minhash components. */
  def band(mh1: Column, mh2: Column): Column = md5(concat(mh1, mh2))
}
