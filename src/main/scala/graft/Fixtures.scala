package graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Deterministic corpus fixtures for the registry's training-data
  * entries and their tests: each derives a test diet from the synthetic
  * `documents` text with plain column arithmetic (CASE, concat, repeat,
  * literal replace) that the DuckDB oracles rebuild identically. They
  * are test inputs, not operators, so they live beside the registry
  * rather than in the operator library.
  */
object Fixtures {

  /** Deterministic repetition fixture for t31b: every 11th doc gains
    * three identical appended paragraphs (duplicate-paragraph tiers),
    * every 7th (not 11th) doc gains a 5-word phrase repeated 20 times
    * (top-n-gram + duplicate-n-gram tiers) — plain CASE + repeat both
    * engines compute identically. */
  def repetitionFixture(text: Column): Column =
    when(pmod(col("doc_id"), lit(11)) === 0,
      concat(text, lit("\n\npara one\n\npara one\n\npara one")))
      .when(pmod(col("doc_id"), lit(7)) === 0,
        concat(text, lit(" "),
          repeat(lit("badger mushroom snake gopher rae "), 20)))
      .otherwise(text)

  /** Deterministic multi-line fixture for the line-level Gopher rules:
    * the flat single-line test corpus gains bullets, ellipses,
    * duplicate-able lines and a second stop word ("of" — the corpus
    * vocabulary only carries "the", which alone can never satisfy the
    * ≥ 2-distinct-stop-words rule) through three plain (non-regex)
    * replaces that any engine applies identically. */
  def multiLineFixture(text: Column): Column =
    replace(
      replace(
        replace(text, lit(" table "), lit("\n- table ")),
        lit(" row "), lit("...\nrow ")),
      lit(" value "), lit(" of value "))

  /** Deterministic mixed-script derivation over the (all-ASCII)
    * synthetic corpus: per-language chained literal replaces introduce
    * 2-byte Latin accents (fr/de/es), 3-byte CJK (zh), and punctuation
    * adjacent to letters (en) — the byte-level tier's test diet. Every
    * engine computes the identical text (plain `replace` chains, no
    * regex), so the t28c oracle rebuilds the same fixture. */
  def mixedScriptFixture(text: Column, lang: Column): Column =
    when(lang === "fr",
      replace(replace(text, lit("e"), lit("é")), lit("c"), lit("ç")))
      .when(lang === "de",
        replace(replace(text, lit("a"), lit("ä")), lit("u"), lit("ü")))
      .when(lang === "es",
        replace(replace(text, lit("n"), lit("ñ")), lit("o"), lit("ó")))
      .when(lang === "zh",
        replace(replace(replace(text, lit("data"), lit("数据")),
          lit("table"), lit("表")), lit("query"), lit("查询")))
      .otherwise(
        replace(replace(text, lit("slow"), lit("slow,")),
          lit("fast"), lit("fast!")))

  /** Deterministic low-quality fixture for the trained-classifier tier
    * (t33/p9): every 7th document gains a 20×-repeated spam/boilerplate
    * phrase — the dominated-by-boilerplate shape real quality
    * classifiers are trained to catch (and exactly what the Gopher
    * repetition rules flag, making them usable as weak labels). A plain
    * concat both engines compute identically. */
  def spamFixture(text: Column, id: Column): Column = {
    val phrase = " click here buy now subscribe free winner prize offer"
    when(pmod(id, lit(7L)) === 0, concat(text, lit(phrase * 20)))
      .otherwise(text)
  }
}
