package graft
package registry

import org.apache.spark.sql.functions._
import graft.operators.{Dedup, TextAnalysis}
import Support.{bpeMerges1k, bpeMergesBytes1k, bpeMergesBytes32k,
  plantedBoilerplate, tbl, tblPar, withTempDir}

/** The t family: training-data operators over the documents table
  * (dedup, text analysis, tokenization, sampling, quality rules and
  * trained classifiers). The oracle-side SQL twins of the operators
  * (`sqlCharFold`, the Gopher and BPE replay chains, ...) live here; the
  * p pipelines reuse them.
  */
object TFamily {

  /** Shared DuckDB replay of the t27 substring-span chain over the
    * planted-boilerplate corpus: ends with `sp` (duplicated-window rows
    * with span ids), `spans` (merged [start,end) per doc) and `tok`
    * (zipped-unnest tokens with 1-based ordinality) for the cleaning
    * stages — ONE definition for the t27/t27b/p4b oracles. */
  private[registry] def substringSpanCtes: String =
    s"""docs AS (SELECT doc_id,
       |    (CASE WHEN doc_id % 5 = 0
       |      THEN 'please subscribe to our newsletter for daily updates and exclusive offers today'
       |      ELSE 'intro ' || doc_id END) || ' ' || text AS text
       |  FROM documents),
       |tk AS (SELECT doc_id, list_filter(
       |    string_split_regex(trim(text), '\\s+'),
       |    t -> len(t) > 0) AS t FROM docs),
       |th AS (SELECT doc_id, list_transform(t,
       |    tok -> ${sqlCharFold("tok")}) AS th FROM tk),
       |wins AS (SELECT doc_id, i - 1 AS pos,
       |    list_reduce(list_prepend(CAST(0 AS BIGINT), th[i:i+7]),
       |      (acc, x) -> (acc * 1000003 + x) % 2147483647) AS fp
       |  FROM (SELECT doc_id, th,
       |      unnest(generate_series(1, len(th) - 7)) AS i
       |    FROM th WHERE len(th) >= 8)),
       |dup AS (SELECT fp FROM wins GROUP BY fp
       |  HAVING count(DISTINCT doc_id) >= 3),
       |mk AS (SELECT w.doc_id, w.pos FROM wins w JOIN dup USING (fp)),
       |gp AS (SELECT doc_id, pos,
       |    CASE WHEN pos - lag(pos) OVER (PARTITION BY doc_id
       |        ORDER BY pos) <= 8 THEN 0 ELSE 1 END AS nw
       |  FROM mk),
       |sp AS (SELECT doc_id, pos, sum(nw) OVER (PARTITION BY doc_id
       |    ORDER BY pos ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
       |    AS span
       |  FROM gp),
       |spans AS (SELECT doc_id, min(pos) AS start_tok,
       |    max(pos) + 8 AS end_tok
       |  FROM sp GROUP BY doc_id, span),
       |tok AS (SELECT doc_id, unnest(t) AS tok,
       |    unnest(generate_series(1, len(t))) AS i FROM tk)""".stripMargin

  /** charFold re-derivation in DuckDB (see PortableHash.charFold). */
  private[registry] def sqlCharFold(expr: String): String =
    s"""list_reduce(list_prepend(CAST(0 AS BIGINT),
       |      list_transform(string_split($expr, ''), ch -> CAST(ascii(ch) AS BIGINT))),
       |      (acc, x) -> (acc * 1315423911 + x) % 2147483647)""".stripMargin

  /** langId replay as a reusable CTE chain over `src` (must expose
    * doc_id, lang, text); ends in `lp(doc_id, lang, pred)`. Shared by the
    * t7 oracle and the p1 pipeline oracle's language-filter stage. */
  private[registry] def langPredCtes(src: String): String = {
    val langs = TextAnalysis.stopwords.keys.toSeq.sorted
    val swCounts = langs.map { l =>
      val inList = TextAnalysis.stopwords(l).map(w => s"'$w'").mkString(", ")
      s"len(list_filter(toks, t -> t IN ($inList))) AS c_$l"
    }.mkString(",\n  ")
    val scripts = TextAnalysis.scriptRanges.map { case (l, _, re2) =>
      s"length(text) - length(regexp_replace(text, '$re2', '', 'g')) AS s_$l"
    }.mkString(",\n  ")
    val scriptLangs = TextAnalysis.scriptRanges.map(_._1) // alphabetical
    val sMax = scriptLangs.map(l => s"s_$l").mkString("greatest(", ", ", ")")
    val scriptCase = scriptLangs.map(l => s"WHEN s_$l = smax THEN '$l'").mkString(" ")
    val cMax = langs.map(l => s"c_$l").mkString("greatest(", ", ", ")")
    val swCase = langs.map(l => s"WHEN c_$l = cmax THEN '$l'").mkString(" ")
    s"""lbase AS (SELECT doc_id, lang, text,
       |  regexp_split_to_array(trim(lower(text)), '\\s+') AS toks FROM $src),
       |lcnt AS (SELECT doc_id, lang, length(text) AS nch,
       |  $scripts,
       |  $swCounts
       |  FROM lbase),
       |lm AS (SELECT *, $sMax AS smax, $cMax AS cmax FROM lcnt),
       |lp AS (SELECT doc_id, lang,
       |  CASE WHEN smax > 0 AND smax * 4 >= nch THEN CASE $scriptCase END
       |       WHEN cmax = 0 THEN 'unknown'
       |       $swCase END AS pred
       |  FROM lm)""".stripMargin
  }

  /** t7 oracle, generated from the SAME stopword/script tables the
    * operator uses (they are the operator's spec): DuckDB replays the
    * script-count pass, the 25% decision threshold, and the alphabetical
    * first-wins CASE order of the Spark fold. */
  private val t7Oracle: String =
    s"""WITH ${langPredCtes("documents")}
       |SELECT lang, pred, count(*) AS n FROM lp
       |GROUP BY lang, pred ORDER BY lang, pred""".stripMargin

  /** 12-merge BPE model snapshot trained by
    * `Test/runMain graft.BpeSnapshotMain /root/testdata/sf0.01 12`
    * (TextAnalysis.trainBpe over the sf0.01 English documents) — the
    * train-once/ship-table serving shape; the t28 oracle builds the
    * identical DuckDB replace chain from this same value. */
  private val bpeSnapshotMerges: Seq[(String, String)] = Seq(
    ("e", "r"), ("e", "</w>"), ("o", "r"), ("i", "n"), ("er", "</w>"),
    ("o", "w"), ("ow", "</w>"), ("t", "</w>"), ("h", "</w>"), ("t", "a"),
    ("a", "s"), ("g", "</w>"))

  /** Escape a string for interpolation into a single-quoted SQL
    * literal (oracle-side rendering of model tables). */
  private def sqlLit(s: String): String = "'" + s.replace("'", "''") + "'"

  /** The mixed-script fixture derivation as DuckDB SQL — the exact
    * replace chain of [[Fixtures.mixedScriptFixture]]
    * (one definition per engine; both pinned to each other by t28c). */
  private[registry] val sqlMixedScript: String =
    """CASE WHEN lang = 'fr' THEN replace(replace(text, 'e', 'é'), 'c', 'ç')
      |  WHEN lang = 'de' THEN replace(replace(text, 'a', 'ä'), 'u', 'ü')
      |  WHEN lang = 'es' THEN replace(replace(text, 'n', 'ñ'), 'o', 'ó')
      |  WHEN lang = 'zh' THEN replace(replace(replace(text,
      |    'data', '数据'), 'table', '表'), 'query', '查询')
      |  ELSE replace(replace(text, 'slow', 'slow,'), 'fast', 'fast!')
      |  END""".stripMargin

  /** Shared DuckDB replay of the dsirWeightsNgram estimator: CTE chain
    * ending in `bks(doc_id, lang, bs)` (per-doc feature buckets) and
    * `lrarr(arr)` (the 64-entry smoothed log-ratio table). ONE
    * definition serves t29b, t30 and p5 so the estimator replay can
    * never drift between the weight and resampling oracles. */
  private[registry] def dsirNgramCteBlock(src: String = "documents"): String =
    s"""toks AS (SELECT doc_id, lang,
       |    list_filter(string_split_regex(trim(text), '\\s+'),
       |      t -> len(t) > 0) AS ts
       |  FROM $src),
       |hs AS (SELECT doc_id, lang,
       |    list_transform(ts, t -> ${sqlCharFold("t")}) AS h
       |  FROM toks),
       |bks AS (SELECT doc_id, lang, list_concat(
       |    list_transform(h, x -> x % 64),
       |    CASE WHEN len(h) >= 2 THEN list_transform(
       |        list_zip(h[1:len(h)-1], h[2:len(h)]),
       |        p -> ((p[1] * 1000003 + p[2]) % 2147483647) % 64)
       |      ELSE CAST([] AS BIGINT[]) END) AS bs
       |  FROM hs),
       |prof AS (SELECT b, count(*) AS raw,
       |    count(*) FILTER (WHERE lang = 'en') AS tgt
       |  FROM (SELECT lang, unnest(bs) AS b FROM bks) GROUP BY b),
       |tot AS (SELECT sum(raw) AS rt, sum(tgt) AS tt FROM prof),
       |lrarr AS (SELECT list(r ORDER BY b) AS arr FROM (
       |    SELECT gs.b AS b, coalesce(
       |        ln((p.tgt + 1.0) / (t.tt + 64)) - ln((p.raw + 1.0) / (t.rt + 64)),
       |        ln(1.0 / (t.tt + 64)) - ln(1.0 / (t.rt + 64))) AS r
       |    FROM (SELECT unnest(range(0, 64)) AS b) gs
       |    CROSS JOIN tot t
       |    LEFT JOIN prof p ON p.b = gs.b))""".stripMargin

  /** The per-doc dsirWeightsNgram scoring fold (over `bks`/`lrarr`). */
  private[registry] def sqlDsirNgramWeight: String =
    """round(list_reduce(list_prepend(0.0,
      |    list_transform(bs, b -> arr[CAST(b AS INT) + 1])),
      |    (acc, x) -> acc + x), 4)""".stripMargin

  /** The t28c/t28d shared DuckDB replay chain: mixed-script fixture →
    * pair-enriched serving text → loss-free pre-tokenization → per
    * DISTINCT word, hex-pair byte symbols advanced one merge per
    * recursion step in TRAINING ORDER. Ends with `tk(doc_id, t2)`,
    * `tok(doc_id, tok, i)` and `fin(tok, pieces)`. ONE definition so
    * the piece and id oracles replay the identical chain. */
  private[registry] val sqlBytePretok = "[\\p{L}\\p{N}]+|[^\\s\\p{L}\\p{N}]+"

  /** The t28c/t28d serving-corpus prefix: mixed-script fixture over the
    * doc_id<400 slice, pair-enriched, re-pre-tokenized. Ends with
    * `tk(doc_id, t2)` and `tok(doc_id, tok, i)`. */
  private lazy val bpeBytesPairTokCtes: String =
    s"""raw AS (SELECT doc_id, $sqlMixedScript AS mixed
       |  FROM documents WHERE doc_id < 400),
       |ptk AS (SELECT doc_id,
       |    regexp_extract_all(mixed, '$sqlBytePretok') AS rt FROM raw),
       |tk AS (SELECT doc_id,
       |    CASE WHEN len(rt) >= 2 THEN array_to_string(list_transform(
       |        list_zip(rt[1:len(rt)-1], rt[2:len(rt)]),
       |        p -> p[1] || p[2]), ' ')
       |      ELSE '' END AS t2
       |  FROM ptk),
       |tkl AS (SELECT doc_id,
       |    regexp_extract_all(t2, '$sqlBytePretok') AS t FROM tk),
       |tok AS (SELECT doc_id, unnest(t) AS tok,
       |    unnest(generate_series(1, len(t))) AS i FROM tkl)""".stripMargin

  /** The training-order merge replay over a preceding `tok(doc_id, tok,
    * i)` CTE: per DISTINCT word, hex-pair byte symbols advanced one
    * merge per recursion step. Ends with `fin(tok, pieces)`. ONE
    * definition shared by every byte-level oracle (t28c/t28d/p6/t28e —
    * t28e passes the 32k model's documented 1,000-merge prefix). */
  private def bpeBytesMergeReplayCtesFor(
      merges: Seq[(String, String)]): String = {
    val vals = merges.zipWithIndex.map { case ((a, b), r) =>
      s"($r, ${sqlLit(a)}, ${sqlLit(b)})" }.mkString(", ")
    val n = merges.size
    s"""words AS (SELECT DISTINCT tok FROM tok),
       |m(r, a, b) AS (SELECT * FROM (VALUES $vals) v(r, a, b)),
       |enc AS (
       |  SELECT tok, regexp_replace(lower(hex(encode(tok))),
       |      '(..)', ' \\1 ', 'g') || ' </w> ' AS s, 0 AS r
       |    FROM words
       |  UNION ALL
       |  SELECT e.tok, replace(e.s, ' ' || m.a || '  ' || m.b || ' ',
       |      ' ' || m.a || m.b || ' '), e.r + 1
       |    FROM enc e JOIN m ON m.r = e.r),
       |fin AS (SELECT tok, list_filter(
       |    string_split_regex(trim(s), '\\s+'),
       |    p -> len(p) > 0) AS pieces
       |  FROM enc WHERE r = $n)""".stripMargin
  }

  private[registry] lazy val bpeBytesMergeReplayCtes: String =
    bpeBytesMergeReplayCtesFor(bpeMergesBytes1k)

  /** The t28e serving-corpus prefix: mixed-script fixture over the
    * doc_id<60 slice, pair-enriched TWICE (each enrichment
    * re-pre-tokenizes its input — punctuation fused by round one splits
    * again in round two, exactly pairEnrichBytes ∘ pairEnrichBytes).
    * Ends with `tk(doc_id, t2)` and `tok(doc_id, tok, i)`. */
  private lazy val bpeBytes2PairTokCtes: String =
    s"""raw AS (SELECT doc_id, $sqlMixedScript AS mixed
       |  FROM documents WHERE doc_id < 60),
       |ptk AS (SELECT doc_id,
       |    regexp_extract_all(mixed, '$sqlBytePretok') AS rt FROM raw),
       |p1 AS (SELECT doc_id,
       |    CASE WHEN len(rt) >= 2 THEN array_to_string(list_transform(
       |        list_zip(rt[1:len(rt)-1], rt[2:len(rt)]),
       |        p -> p[1] || p[2]), ' ')
       |      ELSE '' END AS t1
       |  FROM ptk),
       |p1t AS (SELECT doc_id,
       |    regexp_extract_all(t1, '$sqlBytePretok') AS rt2 FROM p1),
       |tk AS (SELECT doc_id,
       |    CASE WHEN len(rt2) >= 2 THEN array_to_string(list_transform(
       |        list_zip(rt2[1:len(rt2)-1], rt2[2:len(rt2)]),
       |        p -> p[1] || p[2]), ' ')
       |      ELSE '' END AS t2
       |  FROM p1t),
       |tkl AS (SELECT doc_id,
       |    regexp_extract_all(t2, '$sqlBytePretok') AS t FROM tk),
       |tok AS (SELECT doc_id, unnest(t) AS tok,
       |    unnest(generate_series(1, len(t))) AS i FROM tkl)""".stripMargin

  private lazy val bpeBytesChainCtes: String =
    s"$bpeBytesPairTokCtes,\n$bpeBytesMergeReplayCtes"

  /** The byte-level model's closed vocabulary as (piece, id) — the
    * exact first-wins construction of [[graft.plans.BpeModel]].pieceId,
    * rendered for the t28d oracle. */
  private lazy val bpeBytesVocab: Seq[(String, Int)] = {
    val m = scala.collection.mutable.LinkedHashMap.empty[String, Int]
    (0 until 256).foreach(b => m.update(f"$b%02x", b))
    m.update("</w>", 256)
    bpeMergesBytes1k.zipWithIndex.foreach { case ((a, b), r) =>
      val s = a + b
      if (!m.contains(s)) m.update(s, 257 + r)
    }
    m.toSeq
  }

  /** The deterministic Gumbel noise of dsirResample: u =
    * (charFold(id) + 1) / (Mod + 1), g = −ln(−ln u). */
  private[registry] def sqlGumbel(idExpr: String): String =
    s"-ln(-ln((${sqlCharFold(s"CAST($idExpr AS VARCHAR)")} + 1) / " +
      "2147483648.0))"

  /** The t31/p8 multi-line fixture: three plain replaces, the SQL twin of
    * Fixtures.multiLineFixture. */
  private[registry] def sqlGopherFx(src: String): String =
    s"""fx AS (SELECT doc_id,
       |    replace(replace(replace(text, ' table ', chr(10) || '- table '),
       |            ' row ', '...' || chr(10) || 'row '),
       |            ' value ', ' of value ') AS text
       |  FROM $src)""".stripMargin

  /** Gopher signal CTEs over `src` (doc_id, text) → `gm` with one column
    * per rule signal. */
  private[registry] def sqlGopherMetrics(src: String): String =
    s"""gw AS (SELECT doc_id, text,
       |    list_filter(regexp_split_to_array(trim(text), '\\s+'),
       |      t -> len(t) > 0) AS ws,
       |    list_filter(list_transform(string_split(
       |        replace(replace(replace(replace(text,
       |          chr(13) || chr(10), chr(10)), chr(13), chr(10)),
       |          chr(8232), chr(10)), chr(8233), chr(10)), chr(10)),
       |      l -> trim(l)), l -> len(l) > 0) AS ls
       |  FROM $src),
       |gm AS (SELECT doc_id, text,
       |    CAST(len(ws) AS DOUBLE) AS nw,
       |    CAST(len(ls) AS DOUBLE) AS nl,
       |    CAST(list_sum(list_transform(ws, t -> length(t))) AS DOUBLE)
       |      / greatest(CAST(len(ws) AS DOUBLE), 1.0) AS mean_len,
       |    CAST(length(text) - length(replace(text, '#', '')) AS DOUBLE)
       |      / greatest(CAST(len(ws) AS DOUBLE), 1.0) AS hash_ratio,
       |    ((length(text) - length(replace(text, '...', ''))) / 3)
       |      / greatest(CAST(len(ws) AS DOUBLE), 1.0) AS ellipsis_ratio,
       |    CAST(len(list_filter(ls, l -> l[1:1] IN ('-', '*', '•'))) AS DOUBLE)
       |      / greatest(CAST(len(ls) AS DOUBLE), 1.0) AS bullet_frac,
       |    CAST(len(list_filter(ls, l -> ends_with(l, '...'))) AS DOUBLE)
       |      / greatest(CAST(len(ls) AS DOUBLE), 1.0) AS ellipsis_frac,
       |    CAST(len(list_filter(ws, t -> regexp_matches(t, '[A-Za-z]'))) AS DOUBLE)
       |      / greatest(CAST(len(ws) AS DOUBLE), 1.0) AS alpha_frac,
       |    len(list_intersect(list_distinct(list_transform(ws, t -> lower(t))),
       |      ['the','be','to','of','and','that','have','with'])) AS stop_hits,
       |    (CAST(len(ls) AS DOUBLE) - len(list_distinct(ls)))
       |      / greatest(CAST(len(ls) AS DOUBLE), 1.0) AS dup_line_frac
       |  FROM gw)""".stripMargin

  /** (rule name, SQL predicate over gm) — ONE definition of each Gopher
    * threshold, shared by the t31 per-rule columns and the p8 gate. */
  private val sqlGopherConds: Seq[(String, String)] = Seq(
    "r_word_count" -> "nw BETWEEN 50 AND 100000",
    "r_mean_word_len" -> "mean_len BETWEEN 3.0 AND 10.0",
    // per-symbol independent bounds (Rae et al.: "either the hash symbol
    // or the ellipsis" gates on 0.1 EACH, not their sum)
    "r_symbol_ratio" -> "(hash_ratio <= 0.1 AND ellipsis_ratio <= 0.1)",
    "r_bullet_lines" -> "bullet_frac <= 0.9",
    "r_ellipsis_lines" -> "ellipsis_frac <= 0.3",
    "r_alpha_words" -> "alpha_frac >= 0.8",
    "r_stop_words" -> "stop_hits >= 2",
    "r_dup_lines" -> "dup_line_frac <= 0.3")

  private[registry] def sqlGopherKeep: String =
    sqlGopherConds.map(_._2).mkString(" AND ")

  /** Word n-gram list over `ws` (the gopher word split), SQL twin of the
    * repetition suite's shingles(n). */
  private def sqlRepShingles(n: Int): String =
    s"""CASE WHEN len(ws) >= $n THEN list_transform(
       |      range(1, len(ws) - ${n - 1} + 1),
       |      i -> array_to_string(ws[i:i+${n - 1}], ' '))
       |    ELSE CAST([] AS VARCHAR[]) END""".stripMargin

  /** Repetition signal CTEs over `src` (doc_id, text) → `grm` with one
    * column per repetition signal (same definitions as
    * gopherRepetitionRules: paragraphs on blank lines, lines on \n,
    * both trimmed/non-empty; duplicate-unit char fractions count
    * occurrences beyond the first over text length; top-n-gram fraction
    * is count × length of the most frequent n-gram, ties to the
    * longest; duplicate-n-gram fractions count all occurrences of
    * n-grams appearing ≥ 2 times). DuckDB computes the per-unit counts
    * RELATIONALLY (unnest → GROUP BY → per-doc aggregate + left join
    * back) — the engine-native shape of the Spark side's sorted
    * run-length folds; docs with no units coalesce to 0. */
  private[registry] def sqlGopherRepMetrics(src: String): String = {
    // per-(doc, unit) counts of an unnested list column
    def unitCounts(from: String, u: String): String =
      s"""(SELECT doc_id, count(*) AS cnt, length(u) AS len
         |      FROM (SELECT doc_id, unnest($u) AS u FROM $from)
         |      GROUP BY doc_id, u)""".stripMargin
    val beyondFirst = Seq("gpu" -> "ps", "glu" -> "ls").map { case (cte, u) =>
      s"""$cte AS (SELECT doc_id, sum((cnt - 1) * len) AS extra
         |  FROM ${unitCounts("grw", u)} GROUP BY doc_id)""".stripMargin
    }
    val tops = (2 to 4).map { n =>
      s"""gt$n AS (SELECT doc_id,
         |    max(struct_pack(cnt := cnt, len := len)) AS best
         |  FROM ${unitCounts("gsh", s"sh$n")} GROUP BY doc_id)""".stripMargin
    }
    val dups = (5 to 10).map { n =>
      s"""gd$n AS (SELECT doc_id,
         |    sum(CASE WHEN cnt >= 2 THEN cnt * len ELSE 0 END) AS dchars
         |  FROM ${unitCounts("gsh", s"sh$n")} GROUP BY doc_id)""".stripMargin
    }
    val joins =
      (Seq("gpu", "glu") ++ (2 to 4).map(n => s"gt$n") ++
        (5 to 10).map(n => s"gd$n"))
        .map(c => s"  LEFT JOIN $c ON $c.doc_id = w.doc_id").mkString("\n")
    s"""grn AS (SELECT doc_id, text,
       |    replace(replace(replace(replace(text,
       |      chr(13) || chr(10), chr(10)), chr(13), chr(10)),
       |      chr(8232), chr(10)), chr(8233), chr(10)) AS nt
       |  FROM $src),
       |grw AS (SELECT doc_id, text,
       |    list_filter(list_transform(string_split(nt, chr(10)),
       |      l -> trim(l)), l -> len(l) > 0) AS ls,
       |    list_filter(list_transform(string_split(nt,
       |      chr(10) || chr(10)), p -> trim(p)), p -> len(p) > 0) AS ps,
       |    list_filter(regexp_split_to_array(trim(nt), '\\s+'),
       |      t -> len(t) > 0) AS ws,
       |    greatest(CAST(length(nt) AS DOUBLE), 1.0) AS nc
       |  FROM grn),
       |gsh AS (SELECT *,
       |${(2 to 10).map(n => s"    ${sqlRepShingles(n)} AS sh$n")
            .mkString(",\n")}
       |  FROM grw),
       |${beyondFirst.mkString(",\n")},
       |${tops.mkString(",\n")},
       |${dups.mkString(",\n")},
       |grm AS (SELECT w.doc_id, w.text,
       |    CASE WHEN len(w.ps) > 0 THEN
       |      (CAST(len(w.ps) AS DOUBLE) - len(list_distinct(w.ps)))
       |        / len(w.ps)
       |    ELSE 0.0 END AS dup_para_frac,
       |    coalesce(gpu.extra, 0) / w.nc AS dup_para_char_frac,
       |    coalesce(glu.extra, 0) / w.nc AS dup_line_char_frac,
       |${(2 to 4).map(n =>
            s"    coalesce(struct_extract(gt$n.best, 'cnt') * " +
            s"struct_extract(gt$n.best, 'len'), 0) / w.nc " +
            s"AS top${n}gram_frac").mkString(",\n")},
       |${(5 to 10).map(n =>
            s"    coalesce(gd$n.dchars, 0) / w.nc AS dup${n}gram_frac")
            .mkString(",\n")}
       |  FROM grw w
       |$joins)""".stripMargin
  }

  /** (rule name, SQL predicate over grm) — ONE definition of each
    * repetition threshold, shared by t31b's per-rule columns and the
    * p8 gate. */
  private val sqlGopherRepConds: Seq[(String, String)] = Seq(
    "r_dup_paragraphs" -> "dup_para_frac <= 0.3",
    "r_dup_para_chars" -> "dup_para_char_frac <= 0.2",
    "r_dup_line_chars" -> "dup_line_char_frac <= 0.2",
    "r_top2gram_chars" -> "top2gram_frac <= 0.20",
    "r_top3gram_chars" -> "top3gram_frac <= 0.18",
    "r_top4gram_chars" -> "top4gram_frac <= 0.16",
    "r_dup5gram_chars" -> "dup5gram_frac <= 0.15",
    "r_dup6gram_chars" -> "dup6gram_frac <= 0.14",
    "r_dup7gram_chars" -> "dup7gram_frac <= 0.13",
    "r_dup8gram_chars" -> "dup8gram_frac <= 0.12",
    "r_dup9gram_chars" -> "dup9gram_frac <= 0.11",
    "r_dup10gram_chars" -> "dup10gram_frac <= 0.10")

  private[registry] def sqlGopherRepKeep: String =
    sqlGopherRepConds.map(_._2).mkString(" AND ")

  /** The t31b repetition fixture, SQL twin of
    * Fixtures.repetitionFixture. */
  private def sqlRepFx(src: String): String =
    s"""fx AS (SELECT doc_id,
       |    CASE WHEN doc_id % 11 = 0 THEN text ||
       |        chr(10) || chr(10) || 'para one' ||
       |        chr(10) || chr(10) || 'para one' ||
       |        chr(10) || chr(10) || 'para one'
       |      WHEN doc_id % 7 = 0 THEN text || ' ' ||
       |        repeat('badger mushroom snake gopher rae ', 20)
       |      ELSE text END AS text
       |  FROM $src)""".stripMargin

  /** MinHash → LSH-band → candidate chain shared by t32/p8: `corpus`
    * rows (doc_id, text), `bench` rows (bench_id, text) → `chs`/`bhs`
    * (distinct shingle-hash sets) and `cand` (candidate pairs). Same
    * permutation/band algebra as the t3/t5 dedup oracles. */
  private[registry] def sqlFuzzyLshCtes(corpus: String, bench: String): String =
    s"""ctoks AS (SELECT doc_id, string_split(text, ' ') AS t FROM $corpus),
       |csh AS (SELECT doc_id, list_distinct(list_transform(
       |    range(0, greatest(len(t) - 3, 0) + 1),
       |    i -> array_to_string(t[i+1:i+3], ' '))) AS sh FROM ctoks),
       |chs AS (SELECT doc_id,
       |  list_transform(sh, s -> ${sqlCharFold("s")}) AS hs FROM csh),
       |csig AS (SELECT doc_id, hs, list_transform(range(16), p ->
       |  list_min(list_transform(hs,
       |    h -> (h * (2 * p + 1) + (12345 * p + 1)) % 2147483647))) AS sig
       |  FROM chs),
       |btoks AS (SELECT bench_id, string_split(text, ' ') AS t FROM $bench),
       |bsh AS (SELECT bench_id, list_distinct(list_transform(
       |    range(0, greatest(len(t) - 3, 0) + 1),
       |    i -> array_to_string(t[i+1:i+3], ' '))) AS sh FROM btoks),
       |bhs AS (SELECT bench_id,
       |  list_transform(sh, s -> ${sqlCharFold("s")}) AS hs FROM bsh),
       |bsig AS (SELECT bench_id, hs, list_transform(range(16), p ->
       |  list_min(list_transform(hs,
       |    h -> (h * (2 * p + 1) + (12345 * p + 1)) % 2147483647))) AS sig
       |  FROM bhs),
       |cband AS (SELECT doc_id, b AS band_id,
       |  list_reduce(list_prepend(CAST(0 AS BIGINT), sig[b*4+1:b*4+4]),
       |    (acc, x) -> (acc * 1000003 + x) % 2147483647) AS band_hash
       |  FROM csig, range(4) r(b)),
       |bband AS (SELECT bench_id, b AS band_id,
       |  list_reduce(list_prepend(CAST(0 AS BIGINT), sig[b*4+1:b*4+4]),
       |    (acc, x) -> (acc * 1000003 + x) % 2147483647) AS band_hash
       |  FROM bsig, range(4) r(b)),
       |cand AS (SELECT DISTINCT doc_id, bench_id
       |  FROM cband JOIN bband USING (band_id, band_hash))""".stripMargin

  /** Exact-Jaccard verify over a candidate pair's hash sets (ch/bh
    * aliases of chs/bhs). */
  private[registry] def sqlPairJaccard: String =
    """round(CAST(len(list_intersect(ch.hs, bh.hs)) AS DOUBLE) /
      |    greatest(CAST(len(list_distinct(list_concat(ch.hs, bh.hs)))
      |      AS DOUBLE), 1.0), 6)""".stripMargin

  /** The t33/p9 spam fixture, SQL twin of Fixtures.spamFixture. */
  private[registry] def sqlSpamFx(src: String): String =
    s"""sfx AS (SELECT doc_id,
       |    CASE WHEN doc_id % 7 = 0 THEN text || repeat(
       |        ' click here buy now subscribe free winner prize offer', 20)
       |      ELSE text END AS text
       |  FROM $src)""".stripMargin

  /** DuckDB replay of [[TextAnalysis.trainLogistic]] +
    * [[TextAnalysis.linearScore]] serving: the unrolled full-batch-GD
    * chain trained over `trainSrc` (must expose doc_id, y ∈ {0.0, 1.0},
    * text) and served over `serveSrc` (doc_id, text). ONE definition
    * serves the t33 and p9 oracles so the trainer replay cannot drift
    * between them. Emits CTEs ending in
    * `lg_sc(doc_id, n_tokens, score)`. */
  private[registry] def sqlLogisticChain(trainSrc: String, serveSrc: String,
      buckets: Int, steps: Int, lr: Double, roundTo: Int = 6,
      prefix: String = "lg", batches: Int = 1): String = {
    val zeros = Seq.fill(buckets)("0.0").mkString("[", ", ", "]")
    // z = token-mean of the bucket weights (no separate intercept: the
    // normalized features sum to 1, so the weight span contains it)
    val zOf: String =
      """CASE WHEN n > 0 THEN list_reduce(
        |        list_prepend(0.0, list_transform(bs,
        |          bb -> w[CAST(bb AS INT) + 1])),
        |        (acc, x) -> acc + x) / n ELSE 0.0 END""".stripMargin
    def bucketsOf(src: String, out: String, cols: String): String =
      s"""$out AS MATERIALIZED (SELECT doc_id, $cols bs, CAST(len(bs) AS DOUBLE) AS n
         |  FROM (SELECT doc_id, $cols
         |    list_transform(list_filter(string_split_regex(trim(text),
         |        '\\s+'), t -> len(t) > 0),
         |      t -> ${sqlCharFold("t")} % $buckets) AS bs
         |  FROM $src))""".stripMargin
    val sb = new StringBuilder
    if (batches == 1) {
      sb.append(bucketsOf(trainSrc, s"${prefix}_tr", "y,") + ",\n")
      sb.append(
        s"""${prefix}_nd AS MATERIALIZED (SELECT CAST(count(*) AS DOUBLE) AS nd
           |  FROM ${prefix}_tr),
           |""".stripMargin)
    } else {
      // mini-batch SGD (r15, t37): batch membership is the portable
      // charFold of the doc id — deterministic, engine-replayable; the
      // per-step gradient/update normalize by the BATCH size
      sb.append(
        s"""${prefix}_bx AS (SELECT doc_id, y, text,
           |    ${sqlCharFold("CAST(doc_id AS VARCHAR)")} % $batches AS bt
           |  FROM $trainSrc),
           |""".stripMargin)
      sb.append(bucketsOf(s"${prefix}_bx", s"${prefix}_tr", "y, bt,") +
        ",\n")
      sb.append(
        s"""${prefix}_nd AS MATERIALIZED (SELECT bt,
           |    CAST(count(*) AS DOUBLE) AS nd
           |  FROM ${prefix}_tr GROUP BY bt),
           |""".stripMargin)
    }
    sb.append(
      s"""${prefix}_w0 AS MATERIALIZED (SELECT CAST($zeros AS DOUBLE[]) AS w),
         |""".stripMargin)
    for (k <- 1 to steps) {
      val p = k - 1
      val (eFrom, ndFrom) =
        if (batches == 1) (s"${prefix}_tr", s"${prefix}_nd")
        else (s"(SELECT * FROM ${prefix}_tr WHERE bt = ${p % batches})",
          s"(SELECT nd FROM ${prefix}_nd WHERE bt = ${p % batches})")
      sb.append(
        s"""${prefix}_e$k AS MATERIALIZED (SELECT doc_id, bs, n,
           |    1.0 / (1.0 + exp(-($zOf))) - y AS e
           |  FROM $eFrom tr$k CROSS JOIN ${prefix}_w$p),
           |${prefix}_g$k AS MATERIALIZED (SELECT b, round(sum(g), 9) AS gs
           |  FROM (
           |    SELECT unnest(bs) AS b, e / n AS g FROM ${prefix}_e$k)
           |  GROUP BY b),
           |${prefix}_w$k AS MATERIALIZED (SELECT
           |    (SELECT list(round(wp.w[gi.i + 1] - $lr * coalesce(g.gs, 0.0)
           |          / nd.nd, $roundTo) ORDER BY gi.i)
           |      FROM (SELECT unnest(range(0, $buckets)) AS i) gi
           |      CROSS JOIN ${prefix}_w$p wp CROSS JOIN $ndFrom nd
           |      LEFT JOIN ${prefix}_g$k g ON g.b = gi.i) AS w),
           |""".stripMargin)
    }
    sb.append(bucketsOf(serveSrc, s"${prefix}_sv", "") + ",\n")
    sb.append(
      s"""${prefix}_sc AS MATERIALIZED (SELECT doc_id, CAST(len(bs) AS BIGINT)
         |      AS n_tokens,
         |    round(1.0 / (1.0 + exp(-($zOf))), $roundTo) AS score
         |  FROM ${prefix}_sv CROSS JOIN ${prefix}_w$steps)""".stripMargin)
    sb.toString
  }

  val entries: Seq[Entry] = Seq(
    // exact dedup: hash-groupBy on content digest (corpus doubled to plant
    // exact duplicates; keeps the query self-contained on read-only data)
    Entry("t1_exact_dedup", (s, dir) => {
      val d = tbl(s, dir, "documents")
      Dedup.exactGroups(d.unionByName(d), "text", "doc_id").orderBy("keeper")
    },
      """SELECT md5(text) AS digest, min(doc_id) AS keeper, count(*) AS n_copies
        |FROM (SELECT * FROM documents UNION ALL SELECT * FROM documents)
        |GROUP BY md5(text) HAVING count(*) > 1 ORDER BY keeper""".stripMargin),

    // document fingerprint: portable polynomial rolling hash
    Entry("t2_fingerprint", (s, dir) =>
      tbl(s, dir, "documents")
        .select(col("doc_id"), TextAnalysis.fingerprint(col("text")).as("fp"))
        .orderBy("doc_id"),
      s"""SELECT doc_id, ${sqlCharFold("text")} AS fp
         |FROM documents ORDER BY doc_id""".stripMargin),

    // MinHash signatures (8 permutations over 3-gram shingles), exploded
    Entry("t3_minhash_sig", (s, dir) =>
      tbl(s, dir, "documents")
        .select(col("doc_id"), posexplode(
          Dedup.minhashSignature(Dedup.shingleHashes(col("text"), 3), 8))
          .as(Seq("perm", "h")))
        .orderBy("doc_id", "perm"),
      s"""WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
         |sh AS (SELECT doc_id, list_distinct(list_transform(
         |    range(0, greatest(len(t) - 3, 0) + 1),
         |    i -> array_to_string(t[i+1:i+3], ' '))) AS shingles FROM toks),
         |hs AS (SELECT doc_id, list_transform(shingles, s -> ${sqlCharFold("s")}) AS hashes FROM sh)
         |SELECT doc_id, CAST(perm AS INTEGER) AS perm,
         |  list_min(list_transform(hashes,
         |    h -> (h * (2 * perm + 1) + (12345 * perm + 1)) % 2147483647)) AS h
         |FROM hs, range(8) r(perm) ORDER BY doc_id, perm""".stripMargin),

    // exact n-gram Jaccard between each doc and a perturbed copy
    Entry("t4_jaccard_pairs", (s, dir) =>
      tbl(s, dir, "documents").filter(col("doc_id") < 100)
        .select(col("doc_id"), round(Dedup.jaccard(
          Dedup.shingles(col("text"), 3),
          Dedup.shingles(concat(col("text"), lit(" graft extra token")), 3)), 6)
          .as("j"))
        .orderBy("doc_id"),
      s"""WITH pair_toks AS (
         |  SELECT doc_id, string_split(text, ' ') AS t1,
         |         string_split(text || ' graft extra token', ' ') AS t2
         |  FROM documents WHERE doc_id < 100),
         |sh AS (SELECT doc_id,
         |  list_distinct(list_transform(range(0, greatest(len(t1)-3,0)+1),
         |    i -> array_to_string(t1[i+1:i+3], ' '))) AS s1,
         |  list_distinct(list_transform(range(0, greatest(len(t2)-3,0)+1),
         |    i -> array_to_string(t2[i+1:i+3], ' '))) AS s2
         |  FROM pair_toks)
         |SELECT doc_id, round(CAST(len(list_intersect(s1, s2)) AS DOUBLE) /
         |  len(list_distinct(list_concat(s1, s2))), 6) AS j
         |FROM sh ORDER BY doc_id""".stripMargin),

    // PII scrubbing: plant deterministic emails/phones, redact them with
    // chained native regexp_replace — row-local, codegen'd, zero UDFs
    Entry("t10_pii_scrub", (s, dir) =>
      tbl(s, dir, "documents").filter(col("doc_id") < 500)
        .select(col("doc_id"), TextAnalysis.scrubPii(concat(col("text"),
            lit(" contact user"), col("doc_id"), lit("@example.com or +1-555-"),
            col("doc_id"))).as("scrubbed"))
        .orderBy("doc_id"),
      """SELECT doc_id,
        |  regexp_replace(regexp_replace(
        |    text || ' contact user' || doc_id || '@example.com or +1-555-' || doc_id,
        |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '[EMAIL]', 'g'),
        |    '\+?[0-9]{1,3}-[0-9]{3}-[0-9]+', '[PHONE]', 'g') AS scrubbed
        |FROM documents WHERE doc_id < 500 ORDER BY doc_id""".stripMargin),

    // benchmark decontamination: docs sharing any word 4-gram with the
    // (broadcast) benchmark set doc_id < 20 — eval-leakage guard; the
    // corpus side never shuffles
    Entry("t11_decontaminate", (s, dir) => {
      val d = tbl(s, dir, "documents")
      TextAnalysis.decontaminate(
          d.filter(col("doc_id") >= 20), d.filter(col("doc_id") < 20),
          "doc_id", "text", 4)
        .orderBy("doc_id")
    },
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
        |idx AS (SELECT doc_id, ws,
        |  unnest(range(1, greatest(len(ws) - 3, 0) + 1)) AS i FROM t),
        |sh AS (SELECT doc_id, array_to_string(ws[i:i+3], ' ') AS s FROM idx),
        |bench AS (SELECT DISTINCT s FROM sh WHERE doc_id < 20)
        |SELECT sh.doc_id, count(DISTINCT sh.s) AS n_shared
        |FROM sh JOIN bench USING (s) WHERE sh.doc_id >= 20
        |GROUP BY sh.doc_id ORDER BY sh.doc_id""".stripMargin),

    // Gopher-style repetition signal: duplicate word-3-gram fraction per
    // doc — single-row array arithmetic, codegen'd
    Entry("t12_repetition", (s, dir) =>
      tbl(s, dir, "documents").filter(col("doc_id") < 500)
        .select(col("doc_id"),
          round(TextAnalysis.dupNgramRatio(col("text"), 3), 6).as("dup3"))
        .orderBy("doc_id"),
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS ws
        |  FROM documents WHERE doc_id < 500),
        |s AS (SELECT doc_id,
        |  list_transform(range(1, greatest(len(ws) - 2, 0) + 1),
        |    i -> array_to_string(ws[i:i+2], ' ')) AS sh,
        |  greatest(len(ws) - 2, 0) AS total FROM t)
        |SELECT doc_id, round(CASE WHEN total > 0
        |  THEN (total - len(list_distinct(sh))) * 1.0 / total
        |  ELSE 0 END, 6) AS dup3
        |FROM s ORDER BY doc_id""".stripMargin),

    // token-window chunking (context-length prep): 20-token windows,
    // stride 15 — project + explode only, scan-speed at 100 TB; chunks
    // verified by portable fingerprint so the oracle needn't carry text
    Entry("t13_chunking", (s, dir) =>
      TextAnalysis.chunkTokens(
        tbl(s, dir, "documents").filter(col("doc_id") < 200),
        "doc_id", "text", 20, 15)
        .select(col("doc_id"), col("chunk_idx"), col("chunk_tokens"),
          graft.functions.PortableHash.charFold(col("chunk")).as("fp"))
        .orderBy("doc_id", "chunk_idx"),
      s"""SELECT doc_id, CAST(i AS INT) AS chunk_idx,
         |  CAST(len(sl) AS INT) AS chunk_tokens,
         |  ${sqlCharFold("array_to_string(sl, ' ')")} AS fp
         |FROM (
         |  SELECT doc_id, i, list_slice(toks, i * 15 + 1, i * 15 + 20) AS sl
         |  FROM (
         |    SELECT doc_id, toks,
         |      UNNEST(generate_series(0, CASE WHEN len(toks) = 0 THEN -1
         |        ELSE CAST(ceil(greatest(len(toks) - 20, 0) / 15.0) AS BIGINT)
         |        END)) AS i
         |    FROM (SELECT doc_id,
         |        list_filter(string_split_regex(trim(text), '\\s+'),
         |          t -> len(t) > 0) AS toks
         |      FROM documents WHERE doc_id < 200)))
         |ORDER BY doc_id, chunk_idx""".stripMargin),

    // deterministic stratified sampling: per-language keep-fractions via
    // portable-hash bucketing — reproducible scan-local filter, no RNG,
    // no shuffle, no per-stratum pass
    Entry("t14_stratified_sample", (s, dir) =>
      TextAnalysis.stratifiedSample(tbl(s, dir, "documents"),
        "lang", "doc_id",
        Map("en" -> 0.5, "zh" -> 0.25, "es" -> 0.1), default = 0.05)
        .select(col("doc_id"), col("lang"))
        .orderBy("doc_id"),
      s"""SELECT doc_id, lang FROM (
         |  SELECT doc_id, lang,
         |    ${sqlCharFold("CAST(doc_id AS VARCHAR)")} % 1000 AS b
         |  FROM documents)
         |WHERE b < CASE lang WHEN 'en' THEN 500 WHEN 'zh' THEN 250
         |  WHEN 'es' THEN 100 ELSE 50 END
         |ORDER BY doc_id""".stripMargin),

    // full MinHash+LSH near-dup pipeline: plant near-dups, sign, band,
    // bucket-join candidates, verify with exact Jaccard
    Entry("t5_lsh_dedup", (s, dir) => {
      val d = tbl(s, dir, "documents").select(col("doc_id"), col("text"))
      val pert = d.select((col("doc_id") + 10000).as("doc_id"),
        concat(col("text"), lit(" graft extra token")).as("text"))
      val all = d.unionByName(pert)
      // shingle hashes computed ONCE (single tokenize pass) and cached —
      // the signature derives from them and the verify stage compares THEM
      // (hashed-shingle Jaccard: long arrays, not strings — half the
      // shuffle bytes and integer set-intersection; MinHash is already
      // hash-based, so the verify tier measuring the same hash space is
      // the standard pipeline shape)
      // lazy localCheckpoint, not .persist() (r16): a query-level persist
      // has no unpersist hook, so CacheManager held the entry for the
      // whole session AND let later bench passes of the identical plan
      // silently reuse pass-1's cache — a checkpointed RDD is freed by
      // ContextCleaner when the query's DataFrames go unreachable and is
      // rebuilt fresh on every invocation (same convention as the CC
      // loop / kmeans / substringDedupSpans materializations)
      val pre = all
        .select(col("doc_id"), Dedup.shingleHashes(col("text"), 3).as("hs"))
        .select(col("doc_id"), col("hs"),
          Dedup.minhashSignature(col("hs"), 16).as("sig"))
        .localCheckpoint(false)
      val cands = Dedup.lshCandidatePairs(
        Dedup.lshBands(pre, "doc_id", "sig", 2, 8), "doc_id")
      val h1 = pre.select(col("doc_id").as("id1"), col("hs").as("h1"))
      val h2 = pre.select(col("doc_id").as("id2"), col("hs").as("h2"))
      cands.join(h1, "id1").join(h2, "id2")
        .select(col("id1"), col("id2"),
          round(Dedup.jaccard(col("h1"), col("h2")), 6).as("j"))
        .filter(col("j") >= 0.5)
        .orderBy("id1", "id2")
    },
      s"""WITH base AS (
         |  SELECT doc_id, text FROM documents
         |  UNION ALL
         |  SELECT doc_id + 10000, text || ' graft extra token' FROM documents),
         |toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM base),
         |sh AS (SELECT doc_id, list_distinct(list_transform(
         |    range(0, greatest(len(t) - 3, 0) + 1),
         |    i -> array_to_string(t[i+1:i+3], ' '))) AS shingles FROM toks),
         |hs AS (SELECT doc_id, shingles,
         |  list_transform(shingles, s -> ${sqlCharFold("s")}) AS hashes FROM sh),
         |sig AS (SELECT doc_id, shingles, list_transform(range(16), p ->
         |  list_min(list_transform(hashes,
         |    h -> (h * (2 * p + 1) + (12345 * p + 1)) % 2147483647))) AS sig FROM hs),
         |bands AS (SELECT doc_id, b AS band_id,
         |  list_reduce(list_prepend(CAST(0 AS BIGINT), sig[b*8+1:b*8+8]),
         |    (acc, x) -> (acc * 1000003 + x) % 2147483647) AS band_hash
         |  FROM sig, range(2) r(b)),
         |cands AS (SELECT DISTINCT a.doc_id AS id1, b.doc_id AS id2
         |  FROM bands a JOIN bands b
         |    ON a.band_id = b.band_id AND a.band_hash = b.band_hash
         |   AND a.doc_id < b.doc_id)
         |SELECT id1, id2,
         |  round(CAST(len(list_distinct(list_intersect(h1.hashes, h2.hashes))) AS DOUBLE) /
         |    len(list_distinct(list_concat(h1.hashes, h2.hashes))), 6) AS j
         |FROM cands
         |JOIN hs h1 ON h1.doc_id = id1
         |JOIN hs h2 ON h2.doc_id = id2
         |WHERE CAST(len(list_distinct(list_intersect(h1.hashes, h2.hashes))) AS DOUBLE) /
         |      len(list_distinct(list_concat(h1.hashes, h2.hashes))) >= 0.4999995
         |ORDER BY id1, id2""".stripMargin),

    // SimHash (32-bit) over whitespace-token hashes
    Entry("t6_simhash", (s, dir) =>
      tbl(s, dir, "documents")
        .select(col("doc_id"), Dedup.simhash32(
          transform(split(col("text"), " "), t => graft.functions.PortableHash.charFold(t)))
          .as("sh"))
        .orderBy("doc_id"),
      s"""WITH hs AS (SELECT doc_id, list_transform(string_split(text, ' '),
         |    tk -> ${sqlCharFold("tk")}) AS h FROM documents)
         |SELECT doc_id, CAST(list_sum(list_transform(range(32), b -> CASE WHEN
         |    list_sum(list_transform(h, v ->
         |      CASE WHEN CAST(floor(v / pow(2, b)) AS BIGINT) % 2 = 1
         |           THEN 1 ELSE -1 END)) > 0
         |    THEN CAST(pow(2, b) AS BIGINT) ELSE 0 END)) AS BIGINT) AS sh
         |FROM hs ORDER BY doc_id""".stripMargin),

    // language-ID by stopword vote: confusion matrix vs labeled lang
    // two-stage language ID: 8 non-Latin script signals + 12-language
    // Latin stopword vote (confusion matrix vs the labeled lang)
    Entry("t7_langid", (s, dir) =>
      tblPar(s, dir, "documents", "doc_id")
        .select(col("lang"), TextAnalysis.langId(col("text")).as("pred"))
        .groupBy("lang", "pred").agg(count(lit(1)).as("n"))
        .orderBy("lang", "pred"),
      t7Oracle),

    // per-document quality scores
    Entry("t8_quality", (s, dir) => {
      val cols = TextAnalysis.qualityColumns(col("text"))
        .map { case (n, c) => c.as(n) }
      tblPar(s, dir, "documents", "doc_id")
        .select(col("doc_id") +: cols: _*)
        .orderBy("doc_id")
    },
      """SELECT doc_id,
        |  CAST(length(text) AS BIGINT) AS n_chars,
        |  CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT) AS n_tokens,
        |  round(CAST(list_sum(list_transform(regexp_split_to_array(trim(text), '\s+'),
        |      t -> length(t))) AS DOUBLE) /
        |    greatest(CAST(len(regexp_split_to_array(trim(text), '\s+')) AS DOUBLE), 1.0), 6)
        |    AS mean_token_len,
        |  round((length(text) - length(regexp_replace(text, '[.,!?;:]', '', 'g'))) /
        |    greatest(CAST(length(text) AS DOUBLE), 1.0), 6) AS punct_ratio,
        |  round(CAST(len(list_filter(regexp_split_to_array(trim(lower(text)), '\s+'),
        |      t -> t IN ('the','and','of','to','a'))) AS DOUBLE) /
        |    greatest(CAST(len(regexp_split_to_array(trim(text), '\s+')) AS DOUBLE), 1.0), 6)
        |    AS stopword_ratio,
        |  round((length(text) - length(regexp_replace(text, '[A-Z]', '', 'g'))) /
        |    greatest(CAST(length(text) AS DOUBLE), 1.0), 6) AS upper_ratio
        |FROM documents ORDER BY doc_id""".stripMargin),

    // duplicate clusters: the t5 LSH pipeline's verified pairs, closed into
    // connected components (cluster_id = min reachable doc_id = keeper).
    // Three planted generations per doc (original, near-dup, near-dup of
    // the near-dup) make transitivity do real work.
    Entry("t9_dedup_clusters", (s, dir) => {
      val d = tbl(s, dir, "documents").select(col("doc_id"), col("text"))
      val p1 = d.select((col("doc_id") + 10000).as("doc_id"),
        concat(col("text"), lit(" graft extra token")).as("text"))
      val p2 = d.select((col("doc_id") + 20000).as("doc_id"),
        concat(col("text"), lit(" graft extra token and more")).as("text"))
      val all = d.unionByName(p1).unionByName(p2)
      // lazy localCheckpoint, not .persist() — see t5 (session-lifetime
      // CacheManager entry + silent cross-pass reuse)
      val pre = all
        .select(col("doc_id"), Dedup.shingleHashes(col("text"), 3).as("hs"))
        .select(col("doc_id"), col("hs"),
          Dedup.minhashSignature(col("hs"), 16).as("sig"))
        .localCheckpoint(false)
      val cands = Dedup.lshCandidatePairs(
        Dedup.lshBands(pre, "doc_id", "sig", 2, 8), "doc_id")
      val h1 = pre.select(col("doc_id").as("id1"), col("hs").as("h1"))
      val h2 = pre.select(col("doc_id").as("id2"), col("hs").as("h2"))
      val verified = cands.join(h1, "id1").join(h2, "id2")
        .filter(Dedup.jaccard(col("h1"), col("h2")) >= 0.5)
        .select("id1", "id2")
      Dedup.connectedComponents(verified)
        .select(col("id").as("doc_id"), col("cluster_id"))
        .orderBy("doc_id")
    },
      s"""WITH base AS (
         |  SELECT doc_id, text FROM documents
         |  UNION ALL
         |  SELECT doc_id + 10000, text || ' graft extra token' FROM documents
         |  UNION ALL
         |  SELECT doc_id + 20000, text || ' graft extra token and more' FROM documents),
         |toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM base),
         |sh AS (SELECT doc_id, list_distinct(list_transform(
         |    range(0, greatest(len(t) - 3, 0) + 1),
         |    i -> array_to_string(t[i+1:i+3], ' '))) AS shingles FROM toks),
         |hs AS (SELECT doc_id, shingles,
         |  list_transform(shingles, s -> ${sqlCharFold("s")}) AS hashes FROM sh),
         |sig AS (SELECT doc_id, shingles, list_transform(range(16), p ->
         |  list_min(list_transform(hashes,
         |    h -> (h * (2 * p + 1) + (12345 * p + 1)) % 2147483647))) AS sig FROM hs),
         |bands AS (SELECT doc_id, b AS band_id,
         |  list_reduce(list_prepend(CAST(0 AS BIGINT), sig[b*8+1:b*8+8]),
         |    (acc, x) -> (acc * 1000003 + x) % 2147483647) AS band_hash
         |  FROM sig, range(2) r(b)),
         |cands AS (SELECT DISTINCT a.doc_id AS id1, b.doc_id AS id2
         |  FROM bands a JOIN bands b
         |    ON a.band_id = b.band_id AND a.band_hash = b.band_hash
         |   AND a.doc_id < b.doc_id),
         |verified AS (SELECT id1, id2 FROM cands
         |  JOIN hs h1 ON h1.doc_id = id1
         |  JOIN hs h2 ON h2.doc_id = id2
         |  WHERE CAST(len(list_distinct(list_intersect(h1.hashes, h2.hashes))) AS DOUBLE) /
         |        len(list_distinct(list_concat(h1.hashes, h2.hashes))) >= 0.5),
         |edges AS (SELECT id1 AS a, id2 AS b FROM verified
         |  UNION SELECT id2, id1 FROM verified),
         |reach AS (
         |  WITH RECURSIVE r(src, dst) AS (
         |    SELECT a, b FROM edges UNION SELECT a, a FROM edges
         |    UNION
         |    SELECT r.src, e.b FROM r JOIN edges e ON r.dst = e.a)
         |  SELECT src, dst FROM r)
         |SELECT src AS doc_id, min(dst) AS cluster_id
         |FROM reach GROUP BY src ORDER BY doc_id""".stripMargin),

    // CCNet-style perplexity quality signal: train a capped-vocab add-1
    // bigram LM on the corpus (two map-side-combinable count passes),
    // broadcast the bounded model, score every doc in one row-local
    // codegen'd fold. maxVocab=20 deliberately exercises the UNK path.
    Entry("t15_bigram_ppl", (s, dir) => {
      val docs = tbl(s, dir, "documents")
      val model = graft.operators.TextAnalysis.trainBigramModel(
        docs, "text", maxVocab = 20)
      graft.operators.TextAnalysis.bigramPerplexity(docs, "doc_id", "text", model)
        .orderBy("doc_id")
    },
      // full training + scoring replay: top-20 vocab by (count desc, token),
      // UNK=chr(1), BOS=chr(2), pair separator=chr(3) — the sentinels of
      // graft.plans.BigramModel; add-1 smoothing, V = |top| + 1 (UNK)
      """WITH toks AS (SELECT doc_id,
        |    list_filter(string_split(trim(text), ' '), x -> len(x) > 0) AS t
        |  FROM documents),
        |uni AS (SELECT unnest(t) AS tok FROM toks),
        |uc AS (SELECT tok, count(*) AS c FROM uni GROUP BY tok),
        |top AS (SELECT tok, c FROM uc ORDER BY c DESC, tok LIMIT 20),
        |tl AS (SELECT list(tok) AS l FROM top),
        |vn AS (SELECT count(*) + 1 AS v FROM top),
        |unk AS (SELECT (SELECT count(*) FROM uni) - (SELECT sum(c) FROM top) AS c),
        |nd AS (SELECT count(*) AS n FROM toks WHERE len(t) > 0),
        |ctx AS (SELECT tok, c FROM top
        |  UNION ALL SELECT chr(1), c FROM unk),
        |mapped AS (SELECT doc_id, list_transform(t,
        |    x -> CASE WHEN list_contains(tl.l, x) THEN x ELSE chr(1) END) AS m
        |  FROM toks, tl),
        |pos AS (SELECT doc_id, m,
        |    unnest(range(1, len(m) + 1)) AS i
        |  FROM mapped WHERE len(m) > 0),
        |pos2 AS (SELECT doc_id,
        |    CASE WHEN i = 1 THEN chr(2) ELSE m[i - 1] END AS prev,
        |    m[i] AS cur FROM pos),
        |bg AS (SELECT doc_id, prev, cur FROM pos2),
        |bc AS (SELECT prev, cur, count(*) AS c FROM bg GROUP BY prev, cur),
        |sc AS (SELECT p.doc_id,
        |    ln((coalesce(b.c, 0) + 1.0) /
        |       ((CASE WHEN p.prev = chr(2) THEN (SELECT n FROM nd)
        |              ELSE cx.c END) + 1.0 * (SELECT v FROM vn))) AS lp
        |  FROM pos2 p
        |  LEFT JOIN bc b ON b.prev = p.prev AND b.cur = p.cur
        |  LEFT JOIN ctx cx ON cx.tok = p.prev),
        |agg AS (SELECT doc_id, sum(lp) AS logp, count(*) AS n
        |  FROM sc GROUP BY doc_id)
        |SELECT d.doc_id, coalesce(a.n, 0) AS n_tokens,
        |  CASE WHEN a.n > 0 THEN round(exp(-a.logp / a.n), 6) END AS ppl
        |FROM (SELECT doc_id FROM documents) d
        |LEFT JOIN agg a USING (doc_id) ORDER BY doc_id""".stripMargin),

    // capped-bigram-table variant: model state bounded by CONFIGURATION
    // (vocab ≤ 21, bigrams ≤ 50 of the 462 realized pairs — truncation
    // genuinely bites); the dropped tail folds into the add-k smoothing
    // floor, and DuckDB replays the same top-B (count desc, pair asc) rule
    Entry("t15b_bigram_ppl_capped", (s, dir) => {
      val docs = tbl(s, dir, "documents")
      val model = graft.operators.TextAnalysis.trainBigramModel(
        docs, "text", maxVocab = 20, maxBigrams = 50)
      graft.operators.TextAnalysis.bigramPerplexity(docs, "doc_id", "text", model)
        .orderBy("doc_id")
    },
      """WITH toks AS (SELECT doc_id,
        |    list_filter(string_split(trim(text), ' '), x -> len(x) > 0) AS t
        |  FROM documents),
        |uni AS (SELECT unnest(t) AS tok FROM toks),
        |uc AS (SELECT tok, count(*) AS c FROM uni GROUP BY tok),
        |top AS (SELECT tok, c FROM uc ORDER BY c DESC, tok LIMIT 20),
        |tl AS (SELECT list(tok) AS l FROM top),
        |vn AS (SELECT count(*) + 1 AS v FROM top),
        |unk AS (SELECT (SELECT count(*) FROM uni) - (SELECT sum(c) FROM top) AS c),
        |nd AS (SELECT count(*) AS n FROM toks WHERE len(t) > 0),
        |ctx AS (SELECT tok, c FROM top
        |  UNION ALL SELECT chr(1), c FROM unk),
        |mapped AS (SELECT doc_id, list_transform(t,
        |    x -> CASE WHEN list_contains(tl.l, x) THEN x ELSE chr(1) END) AS m
        |  FROM toks, tl),
        |pos AS (SELECT doc_id, m,
        |    unnest(range(1, len(m) + 1)) AS i
        |  FROM mapped WHERE len(m) > 0),
        |pos2 AS (SELECT doc_id,
        |    CASE WHEN i = 1 THEN chr(2) ELSE m[i - 1] END AS prev,
        |    m[i] AS cur FROM pos),
        |bg AS (SELECT doc_id, prev, cur FROM pos2),
        |bc AS (SELECT prev, cur, count(*) AS c FROM bg GROUP BY prev, cur),
        |bk AS (SELECT prev, cur, c FROM bc
        |  ORDER BY c DESC, prev || chr(3) || cur LIMIT 50),
        |sc AS (SELECT p.doc_id,
        |    ln((coalesce(b.c, 0) + 1.0) /
        |       ((CASE WHEN p.prev = chr(2) THEN (SELECT n FROM nd)
        |              ELSE cx.c END) + 1.0 * (SELECT v FROM vn))) AS lp
        |  FROM pos2 p
        |  LEFT JOIN bk b ON b.prev = p.prev AND b.cur = p.cur
        |  LEFT JOIN ctx cx ON cx.tok = p.prev),
        |agg AS (SELECT doc_id, sum(lp) AS logp, count(*) AS n
        |  FROM sc GROUP BY doc_id)
        |SELECT d.doc_id, coalesce(a.n, 0) AS n_tokens,
        |  CASE WHEN a.n > 0 THEN round(exp(-a.logp / a.n), 6) END AS ppl
        |FROM (SELECT doc_id FROM documents) d
        |LEFT JOIN agg a USING (doc_id) ORDER BY doc_id""".stripMargin),

    // characteristic terms per doc: tf groupBy (map-combinable), df
    // aggregated from tf (vocabulary-sized → broadcast idf join)
    Entry("t16_tfidf_terms", (s, dir) =>
      graft.operators.TextAnalysis.tfidfTopTerms(
          tbl(s, dir, "documents"), "doc_id", "text", k = 3)
        .orderBy(col("doc_id"), desc("score"), col("term")),
      """WITH toks AS (SELECT doc_id,
        |    unnest(list_filter(string_split(trim(text), ' '),
        |      x -> len(x) > 0)) AS term
        |  FROM documents),
        |tf AS (SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY 1, 2),
        |dfc AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
        |n AS (SELECT count(*) AS n FROM documents),
        |scored AS (SELECT doc_id, term,
        |    round(CAST(tf AS DOUBLE) *
        |      (ln(((SELECT n FROM n) + 1.0) / (CAST(df AS DOUBLE) + 1.0))
        |       + 1.0), 6) AS score
        |  FROM tf JOIN dfc USING (term)),
        |rk AS (SELECT doc_id, term, score, row_number() OVER (
        |  PARTITION BY doc_id ORDER BY score DESC, term) AS rn FROM scored)
        |SELECT doc_id, term, score FROM rk WHERE rn <= 3
        |ORDER BY doc_id, score DESC, term""".stripMargin),

    // BM25 full-text retrieval: one map-side-combinable stats pass (N,
    // avgdl, per-query-term df), then row-local codegen'd scoring and a
    // TakeOrderedAndProject top-k — no joins, no full sort
    Entry("t17_bm25_topk", (s, dir) =>
      graft.operators.TextAnalysis.bm25TopK(
        tbl(s, dir, "documents"), "doc_id", "text",
        Seq("spark", "window", "merge"), k = 20),
      """WITH toks AS (SELECT doc_id,
        |    list_filter(string_split_regex(trim(text), '\s+'),
        |      t -> len(t) > 0) AS t
        |  FROM documents),
        |st AS (SELECT count(*) * 1.0 AS n, sum(len(t)) * 1.0 AS tt,
        |    sum(CASE WHEN list_contains(t, 'spark') THEN 1 ELSE 0 END) * 1.0 AS df0,
        |    sum(CASE WHEN list_contains(t, 'window') THEN 1 ELSE 0 END) * 1.0 AS df1,
        |    sum(CASE WHEN list_contains(t, 'merge') THEN 1 ELSE 0 END) * 1.0 AS df2
        |  FROM toks),
        |tf AS (SELECT doc_id, len(t) * 1.0 AS dl,
        |    len(list_filter(t, x -> x = 'spark')) * 1.0 AS tf0,
        |    len(list_filter(t, x -> x = 'window')) * 1.0 AS tf1,
        |    len(list_filter(t, x -> x = 'merge')) * 1.0 AS tf2
        |  FROM toks),
        |sc AS (SELECT doc_id, round(
        |    ln(1.0 + (st.n - st.df0 + 0.5) / (st.df0 + 0.5)) * tf0 * (1.2 + 1.0)
        |      / (tf0 + 1.2 * (1.0 - 0.75 + 0.75 * dl / (st.tt / st.n)))
        |  + ln(1.0 + (st.n - st.df1 + 0.5) / (st.df1 + 0.5)) * tf1 * (1.2 + 1.0)
        |      / (tf1 + 1.2 * (1.0 - 0.75 + 0.75 * dl / (st.tt / st.n)))
        |  + ln(1.0 + (st.n - st.df2 + 0.5) / (st.df2 + 0.5)) * tf2 * (1.2 + 1.0)
        |      / (tf2 + 1.2 * (1.0 - 0.75 + 0.75 * dl / (st.tt / st.n))), 6)
        |  AS score FROM tf, st)
        |SELECT doc_id, score FROM sc WHERE score > 0
        |ORDER BY score DESC, doc_id LIMIT 20""".stripMargin),

    // RefinedWeb-style boilerplate line removal: planted header/footer
    // lines shared across ~1/3 / ~1/4 of docs must be stripped while each
    // doc's unique lines survive in order. Dup set broadcasts; the corpus
    // text never shuffles.
    Entry("t18_line_dedup", (s, dir) => {
      val docs = tbl(s, dir, "documents").select(col("doc_id"),
        concat_ws("\n",
          when(col("doc_id") % 3 === 0, lit("subscribe to our newsletter"))
            .otherwise(concat(lit("header "), col("doc_id"))),
          col("text"),
          when(col("doc_id") % 4 === 0, lit("all rights reserved"))
            .otherwise(concat(lit("footer "), col("doc_id")))).as("text"))
      graft.operators.TextAnalysis.lineDedup(docs, "doc_id", "text",
          minDocs = 10)
        .orderBy("doc_id")
    },
      """WITH docs AS (SELECT doc_id, concat_ws(chr(10),
        |    CASE WHEN doc_id % 3 = 0 THEN 'subscribe to our newsletter'
        |         ELSE 'header ' || doc_id END,
        |    text,
        |    CASE WHEN doc_id % 4 = 0 THEN 'all rights reserved'
        |         ELSE 'footer ' || doc_id END) AS text
        |  FROM documents),
        |ln AS (SELECT doc_id, list_filter(string_split(text, chr(10)),
        |    l -> len(trim(l)) > 0) AS l FROM docs),
        |dup AS (SELECT line FROM (SELECT doc_id, unnest(list_distinct(l))
        |    AS line FROM ln) GROUP BY line HAVING count(*) >= 10),
        |dl AS (SELECT coalesce(list(line), []) AS dups FROM dup)
        |SELECT doc_id,
        |  array_to_string(list_filter(l,
        |    x -> NOT list_contains(dups, x)), chr(10)) AS text,
        |  CAST(len(l) - len(list_filter(l,
        |    x -> NOT list_contains(dups, x))) AS BIGINT) AS n_removed
        |FROM ln CROSS JOIN dl ORDER BY doc_id""".stripMargin),

    // temperature-weighted source mixture: a skewed 60/30/10 source split,
    // alpha=0.7 flattens toward the small source (code keeps ~75%, web
    // ~44%); keep rule is the deterministic portable-hash per-mille filter
    Entry("t19_mixture_sample", (s, dir) => {
      val docs = tbl(s, dir, "documents").select(col("doc_id"),
        when(col("doc_id") % 10 < 6, "web")
          .when(col("doc_id") % 10 < 9, "books")
          .otherwise("code").as("src"))
      graft.operators.TextAnalysis.mixtureSample(docs, "src", "doc_id",
          alpha = 0.7, targetRows = 250)
        .orderBy("doc_id")
    },
      s"""WITH d AS (SELECT doc_id,
         |    CASE WHEN doc_id % 10 < 6 THEN 'web'
         |         WHEN doc_id % 10 < 9 THEN 'books' ELSE 'code' END AS src
         |  FROM documents),
         |c AS (SELECT src, count(*) AS c FROM d GROUP BY src),
         |w AS (SELECT src, c, pow(c * 1.0, 0.7) AS w FROM c),
         |z AS (SELECT sum(w) AS z FROM w),
         |f AS (SELECT src, CAST(floor(round(
         |    least(1.0, 250 * (w / (SELECT z FROM z)) / c) * 1000, 6))
         |    AS BIGINT) AS p FROM w),
         |b AS (SELECT doc_id, src,
         |    ${sqlCharFold("CAST(doc_id AS VARCHAR)")} % 1000 AS b FROM d)
         |SELECT b.doc_id, b.src FROM b JOIN f USING (src)
         |WHERE b.b < f.p ORDER BY doc_id""".stripMargin),

    // per-source corpus profile: one map-side-combinable agg pass with
    // exact interpolated percentiles (DuckDB quantile_cont twin)
    Entry("t21_corpus_stats", (s, dir) =>
      graft.operators.TextAnalysis.corpusStats(
          tbl(s, dir, "documents"), "source", "text")
        .orderBy("source"),
      """WITH t AS (SELECT source,
        |    CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT) AS tk,
        |    CAST(len(text) AS BIGINT) AS ln FROM documents)
        |SELECT source, count(*) AS n_docs, CAST(sum(tk) AS BIGINT) AS tokens,
        |  round(avg(ln), 6) AS mean_chars,
        |  round(quantile_cont(ln, 0.5), 6) AS p50_chars,
        |  round(quantile_cont(ln, 0.9), 6) AS p90_chars
        |FROM t GROUP BY source ORDER BY source""".stripMargin),

    // sequence packing: shard-local concat-and-split at 512-token
    // context boundaries; offsets/bins are deterministic (portable-hash
    // shard + id order), spillover rows span bins
    Entry("t26_pack_sequences", (s, dir) => {
      val docs = tbl(s, dir, "documents").select(col("doc_id"),
        graft.operators.TextAnalysis.tokenCount(col("text")).as("tk"))
      graft.operators.TextAnalysis.packSequences(docs, "doc_id", "tk",
          capacity = 512, shards = 8)
        .orderBy("doc_id")
    },
      s"""WITH t AS (SELECT doc_id,
         |    CAST(len(regexp_split_to_array(trim(text), '\\s+')) AS BIGINT)
         |      AS tk,
         |    ${sqlCharFold("CAST(doc_id AS VARCHAR)")} % 8 AS shard
         |  FROM documents),
         |c AS (SELECT doc_id, tk, shard,
         |    sum(tk) OVER (PARTITION BY shard ORDER BY doc_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
         |  FROM t)
         |SELECT doc_id, shard, CAST(cum - tk AS BIGINT) AS offset,
         |  CAST(floor((cum - tk) / 512) AS BIGINT) AS bin_first,
         |  CASE WHEN tk > 0 THEN CAST(floor((cum - 1) / 512) AS BIGINT)
         |       ELSE CAST(floor((cum - tk) / 512) AS BIGINT) END AS bin_last,
         |  tk AS tokens
         |FROM c ORDER BY doc_id""".stripMargin),

    // skew-safe domain quota: top-10 docs per source by (n_chars desc,
    // doc_id) through the salted two-phase window — result provably equal
    // to the single-window form the oracle replays
    Entry("t25_quota_sample", (s, dir) =>
      graft.operators.TextAnalysis.quotaSample(
          tbl(s, dir, "documents").select("doc_id", "source", "n_chars"),
          "source", "n_chars", "doc_id", cap = 10)
        .orderBy("doc_id"),
      """SELECT doc_id, source, n_chars FROM (
        |  SELECT doc_id, source, n_chars, row_number() OVER (
        |    PARTITION BY source ORDER BY n_chars DESC, doc_id) AS rn
        |  FROM documents)
        |WHERE rn <= 10 ORDER BY doc_id""".stripMargin),

    // fastText-style hashing-trick scorer: tokens → portable-hash buckets
    // → broadcast weight dot → sigmoid; row-local codegen, the oracle
    // replays the whole serving path including the default weight vector
    Entry("t23_linear_score", (s, dir) =>
      graft.operators.TextAnalysis.linearScore(
          tbl(s, dir, "documents"), "doc_id", "text")
        .orderBy("doc_id"),
      // serving-path replay: same bucket hash, same Knuth-derived default
      // weights, same left-fold add order, same sigmoid
      s"""WITH toks AS (SELECT doc_id,
         |    list_filter(string_split_regex(trim(text), '\\s+'),
         |      t -> len(t) > 0) AS t
         |  FROM documents),
         |sc AS (SELECT doc_id, len(t) AS n,
         |  list_reduce(list_prepend(0.0, list_transform(t,
         |    tk -> (((${sqlCharFold("tk")} % 64) * 2654435761) % 1000)
         |          / 1000.0 - 0.5)),
         |    (acc, x) -> acc + x) AS dot
         |  FROM toks)
         |SELECT doc_id, CAST(n AS BIGINT) AS n_tokens,
         |  round(1.0 / (1.0 + exp(-(CASE WHEN n > 0 THEN dot / n
         |    ELSE 0.0 END))), 6) AS score
         |FROM sc ORDER BY doc_id""".stripMargin),

    // ingestion-time dedup: batch joins a compact digest ledger (history
    // text never rescanned), then dedups against itself keeping min id
    Entry("t24_incremental_dedup", (s, dir) => {
      val d = tbl(s, dir, "documents").select(col("doc_id"), col("text"))
      val history = d.filter(col("doc_id") < 300)
        .select(md5(col("text")).as("digest"))
      val batch = d.unionByName(
        d.filter(col("doc_id").between(400, 449))
          .select((col("doc_id") + 10000).as("doc_id"), col("text")))
      graft.operators.Dedup.incrementalDedup(batch, history,
          "doc_id", "text")
        .select("doc_id").orderBy("doc_id")
    },
      """WITH d AS (SELECT doc_id, text FROM documents),
        |hist AS (SELECT md5(text) AS dg FROM d WHERE doc_id < 300),
        |batch AS (SELECT * FROM d UNION ALL
        |  SELECT doc_id + 10000, text FROM d WHERE doc_id BETWEEN 400 AND 449),
        |fresh AS (SELECT doc_id, md5(text) AS dg FROM batch
        |  WHERE md5(text) NOT IN (SELECT dg FROM hist)),
        |rk AS (SELECT doc_id, row_number() OVER (
        |  PARTITION BY dg ORDER BY doc_id) AS rn FROM fresh)
        |SELECT doc_id FROM rk WHERE rn = 1 ORDER BY doc_id""".stripMargin),

    // One-call MinHash cascade preset: sketch → capped LSH → Levenshtein
    // verify; planted perturbed copies (18 appended chars) must survive
    // the 0.8 bar, chance LSH collisions must not
    Entry("t22_neardup_cascade", (s, dir) => {
      val d = tbl(s, dir, "documents").select(col("doc_id"), col("text"))
      val pert = d.select((col("doc_id") + 10000).as("doc_id"),
        concat(col("text"), lit(" graft extra token")).as("text"))
      // oracle-exact variant: the DuckDB twin replays UNCAPPED banding, so
      // the hot-bucket guard is lifted here (it stays default-ON in the
      // preset itself — the 100 TB entry point keeps its skew contract)
      graft.operators.Dedup.nearDupCascade(d.unionByName(pert),
          "doc_id", "text", maxBucketSize = Int.MaxValue)
        .orderBy("id1", "id2")
    },
      // t5's LSH replay feeding the levenshtein verify instead of the
      // hashed-shingle Jaccard
      s"""WITH base AS (
         |  SELECT doc_id, text FROM documents
         |  UNION ALL
         |  SELECT doc_id + 10000, text || ' graft extra token' FROM documents),
         |toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM base),
         |sh AS (SELECT doc_id, list_distinct(list_transform(
         |    range(0, greatest(len(t) - 3, 0) + 1),
         |    i -> array_to_string(t[i+1:i+3], ' '))) AS shingles FROM toks),
         |hs AS (SELECT doc_id,
         |  list_transform(shingles, s -> ${sqlCharFold("s")}) AS hashes FROM sh),
         |sig AS (SELECT doc_id, list_transform(range(16), p ->
         |  list_min(list_transform(hashes,
         |    h -> (h * (2 * p + 1) + (12345 * p + 1)) % 2147483647))) AS sig FROM hs),
         |bands AS (SELECT doc_id, b AS band_id,
         |  list_reduce(list_prepend(CAST(0 AS BIGINT), sig[b*8+1:b*8+8]),
         |    (acc, x) -> (acc * 1000003 + x) % 2147483647) AS band_hash
         |  FROM sig, range(2) r(b)),
         |cands AS (SELECT DISTINCT a.doc_id AS id1, b.doc_id AS id2
         |  FROM bands a JOIN bands b
         |    ON a.band_id = b.band_id AND a.band_hash = b.band_hash
         |   AND a.doc_id < b.doc_id),
         |j AS (SELECT id1, id2, a.text AS ta, b.text AS tb FROM cands
         |  JOIN base a ON a.doc_id = id1 JOIN base b ON b.doc_id = id2),
         |sc AS (SELECT id1, id2, CAST(levenshtein(ta, tb) AS BIGINT) AS lev,
         |  round(1.0 - levenshtein(ta, tb) /
         |    CAST(greatest(len(ta), len(tb)) AS DOUBLE), 6) AS sim FROM j)
         |SELECT id1, id2, lev, sim FROM sc WHERE sim >= 0.8
         |ORDER BY id1, id2""".stripMargin),

    // Edit-distance verification of candidate pairs — the final cascade
    // stage after LSH: planted near-copies (11 appended chars) must pass
    // the 0.8 normalized-Levenshtein bar, adjacent-id decoy pairs must
    // fail it; pair-derived sides broadcast, the corpus never shuffles
    Entry("t20_verify_pairs", (s, dir) => {
      val d = tbl(s, dir, "documents").select(col("doc_id"), col("text"))
      val nearCopies = d.filter(col("doc_id") < 100)
        .select((col("doc_id") + 10000).as("doc_id"),
          concat(col("text"), lit(" tail token")).as("text"))
      val corpus = d.unionByName(nearCopies)
      val ids = d.filter(col("doc_id") < 100).select(col("doc_id").as("id1"))
      val pairs = ids.select(col("id1"), (col("id1") + 10000).as("id2"))
        .unionByName(ids.filter(col("id1") < 99)
          .select(col("id1"), (col("id1") + 1).as("id2")))
      graft.operators.Dedup.verifyPairs(pairs, corpus, "doc_id", "text",
          threshold = 0.8)
        .orderBy("id1", "id2")
    },
      """WITH d AS (SELECT doc_id, text FROM documents),
        |nc AS (SELECT doc_id + 10000 AS doc_id, text || ' tail token' AS text
        |  FROM d WHERE doc_id < 100),
        |corpus AS (SELECT * FROM d UNION ALL SELECT * FROM nc),
        |ids AS (SELECT doc_id AS id1 FROM d WHERE doc_id < 100),
        |pairs AS (SELECT id1, id1 + 10000 AS id2 FROM ids
        |  UNION ALL SELECT id1, id1 + 1 FROM ids WHERE id1 < 99),
        |j AS (SELECT p.id1, p.id2, a.text AS ta, b.text AS tb
        |  FROM pairs p JOIN corpus a ON a.doc_id = p.id1
        |  JOIN corpus b ON b.doc_id = p.id2),
        |sc AS (SELECT id1, id2, CAST(levenshtein(ta, tb) AS BIGINT) AS lev,
        |  round(1.0 - levenshtein(ta, tb) /
        |    CAST(greatest(len(ta), len(tb)) AS DOUBLE), 6) AS sim
        |  FROM j)
        |SELECT id1, id2, lev, sim FROM sc WHERE sim >= 0.8
        |ORDER BY id1, id2""".stripMargin),

    // Exact cross-document SUBSTRING dedup (the Lee et al. span shape —
    // the tier between doc-level exact dedup and near-dup pairs):
    // fingerprint every sliding 8-token window, one shuffle counts
    // distinct docs per fingerprint, windows duplicated in >= 3 docs
    // merge into maximal per-doc removal spans. A 12-token boilerplate
    // prefix planted on every 5th doc must surface as its [0,12) span;
    // natural cross-doc repeats in the corpus surface too.
    Entry("t27_substring_dedup", (s, dir) => {
      val d = tbl(s, dir, "documents").select(col("doc_id"), col("text"))
      val corpus = plantedBoilerplate(d)
      graft.operators.Dedup.substringDedupSpans(corpus, "doc_id", "text",
          k = 8, minDocs = 3)
        .orderBy("doc_id", "start_tok")
    },
      // full window-fingerprint replay: tokenize → per-token charFold →
      // per-window polynomial fold → distinct-doc counts → semi join →
      // lag/sum window span merge (identical gap rule: <= k merges)
      s"""WITH $substringSpanCtes
         |SELECT doc_id, min(pos) AS start_tok, max(pos) + 8 AS end_tok,
         |  count(*) AS n_windows
         |FROM sp GROUP BY doc_id, span
         |ORDER BY doc_id, start_tok""".stripMargin),

    // ... and the spans APPLIED back to the corpus (the stage the Lee et
    // al. loop actually ends with): drop the tokens inside each removal
    // span, re-materialize cleaned text. One output-bounded left join +
    // a row-local indexed-HOF token filter; the fingerprint (not the
    // full text) travels to the result so the artifact stays small while
    // the compare is still byte-exact on the cleaned stream.
    Entry("t27b_substring_clean", (s, dir) => {
      val d = tbl(s, dir, "documents").select(col("doc_id"), col("text"))
      val corpus = plantedBoilerplate(d)
      val spans = graft.operators.Dedup.substringDedupSpans(corpus,
        "doc_id", "text", k = 8, minDocs = 3)
      graft.operators.Dedup.applySubstringSpans(corpus, spans)
        .select(col("doc_id"),
          graft.functions.PortableHash.charFold(col("text_clean")).as("fp"),
          col("n_removed"))
        // always true, but anchors the row count to the cleaning output:
        // under a bare count() Catalyst proves the span side unique and
        // ELIMINATES the join (+ prunes the fp HOFs), so a bench row
        // would time a bare scan instead of the operator
        .filter(col("n_removed") >= 0)
        .orderBy("doc_id")
    },
      // the t27 span chain, then the CLEANING replay: zipped-unnest tokens
      // with 1-based ordinality, NOT EXISTS against the span ranges
      // (0-based [start,end)), ordered string_agg re-materializes the
      // cleaned stream; fingerprint + removed-token count compare
      s"""WITH $substringSpanCtes,
         |kept AS (SELECT k.doc_id, k.tok, k.i FROM tok k
         |  WHERE NOT EXISTS (SELECT 1 FROM spans s
         |    WHERE s.doc_id = k.doc_id
         |      AND k.i - 1 >= s.start_tok AND k.i - 1 < s.end_tok)),
         |agg AS (SELECT doc_id, string_agg(tok, ' ' ORDER BY i)
         |    AS text_clean, count(*) AS n_kept
         |  FROM kept GROUP BY doc_id)
         |SELECT tk.doc_id,
         |  ${sqlCharFold("coalesce(a.text_clean, '')")} AS fp,
         |  CAST(len(tk.t) - coalesce(a.n_kept, 0) AS BIGINT) AS n_removed
         |FROM tk LEFT JOIN agg a USING (doc_id)
         |ORDER BY tk.doc_id""".stripMargin),

    // BPE tokenizer at serving shape: a TRAINED merge-table snapshot
    // (bpeSnapshotMerges — regenerate with Test/runMain
    // graft.BpeSnapshotMain) applied row-local to every doc; true piece
    // counts + a fingerprint of the full encoded stream. Training itself
    // is pinned in TrainingOpsSpec (hand-computed Sennrich-example
    // merges + the maxWords bounded-state pin); this entry proves the
    // ENCODER cross-engine: DuckDB replays the identical merge chain.
    Entry("t28_bpe", (s, dir) =>
      tbl(s, dir, "documents").filter(col("doc_id") < 400)
        .select(col("doc_id"),
          size(TextAnalysis.bpeEncode(col("text"), bpeSnapshotMerges))
            .cast("long").as("n_pieces"),
          graft.functions.PortableHash.charFold(concat_ws(" ",
            TextAnalysis.bpeEncode(col("text"), bpeSnapshotMerges)))
            .as("fp"))
        // always true; blocks column pruning under a bare count() so the
        // bench row times the encoder, not a 400-row scan (see t27b)
        .filter(col("n_pieces") >= 0)
        .orderBy("doc_id"),
      // the encoder replayed merge-for-merge: chars+EOW spaced string,
      // then one literal replace per merge IN TRAINING ORDER (left-to-right
      // non-overlapping on both engines)
      {
      val chain = bpeSnapshotMerges.foldLeft(
        """regexp_replace(tok, '(.)', ' \1 ', 'g') || ' </w> '""") {
        case (acc, (a, b)) => s"replace($acc, ' $a  $b ', ' $a$b ')"
      }
      s"""WITH toks AS (SELECT doc_id,
         |    list_filter(string_split_regex(trim(lower(text)), '\\s+'),
         |      t -> regexp_matches(t, '^[a-z]+$$')) AS t
         |  FROM documents WHERE doc_id < 400),
         |enc AS (SELECT doc_id, flatten(list_transform(t, tok ->
         |    list_filter(string_split_regex(trim($chain), '\\s+'),
         |      p -> len(p) > 0))) AS pieces
         |  FROM toks)
         |SELECT doc_id, CAST(len(pieces) AS BIGINT) AS n_pieces,
         |  ${sqlCharFold("array_to_string(pieces, ' ')")} AS fp
         |FROM enc ORDER BY doc_id""".stripMargin
    }),

    // BPE at PRODUCTION size: a genuine 1,000-merge model, served by the
    // lowest-rank-first native encoder over ONE broadcast
    // (bpeEncodeFast) — per-token cost independent of the table size, no
    // plan-literal blowup. The synthetic corpus has a 31-word
    // vocabulary (BPE saturates at ~107 merges on it), so model AND
    // serving text use the pair-enriched fixture: sliding adjacent-word
    // concatenations (~31² distinct word forms — trained on sf0.1 by
    // BpeSnapshotMain, same derivation here and in the oracle). The
    // DuckDB twin replays the full 1,000-step training-order replace
    // chain per DISTINCT word via a recursive CTE, so a green row
    // proves the lowest-rank-first loop ≡ the training-order chain
    // cross-engine at realistic model size.
    Entry("t28b_bpe_fast", (s, dir) => {
      val model = TextAnalysis.bpeModel(s, bpeMerges1k)
      tbl(s, dir, "documents").filter(col("doc_id") < 400)
        .select(col("doc_id"),
          TextAnalysis.pairEnrich(col("text")).as("text"))
        .select(col("doc_id"),
          size(TextAnalysis.bpeEncodeFast(col("text"), model))
            .cast("long").as("n_pieces"),
          graft.functions.PortableHash.charFold(concat_ws(" ",
            TextAnalysis.bpeEncodeFast(col("text"), model)))
            .as("fp"))
        // always true; blocks column pruning under a bare count() (t28)
        .filter(col("n_pieces") >= 0)
        .orderBy("doc_id")
    },
      // the 1,000-merge chain replayed in TRAINING ORDER per DISTINCT
      // word: a recursive CTE advances every word's spaced symbol string
      // one merge per iteration (rank r applies at step r), then tokens
      // join their word's pieces back and re-concatenate in position
      // order — proving Spark's lowest-rank-first native encoder emits
      // the identical stream
      {
      val vals = bpeMerges1k.zipWithIndex.map { case ((a, b), r) =>
        s"($r, ${sqlLit(a)}, ${sqlLit(b)})" }.mkString(", ")
      val n = bpeMerges1k.size
      s"""WITH RECURSIVE
         |raw AS (SELECT doc_id, list_filter(
         |    string_split_regex(trim(lower(text)), '\\s+'),
         |    t -> regexp_matches(t, '^[a-z]+$$')) AS rt
         |  FROM documents WHERE doc_id < 400),
         |tk AS (SELECT doc_id,
         |    CASE WHEN len(rt) >= 2 THEN list_transform(
         |        list_zip(rt[1:len(rt)-1], rt[2:len(rt)]),
         |        p -> p[1] || p[2])
         |      ELSE CAST([] AS VARCHAR[]) END AS t
         |  FROM raw),
         |tok AS (SELECT doc_id, unnest(t) AS tok,
         |    unnest(generate_series(1, len(t))) AS i FROM tk),
         |words AS (SELECT DISTINCT tok FROM tok),
         |m(r, a, b) AS (SELECT * FROM (VALUES $vals) v(r, a, b)),
         |enc AS (
         |  SELECT tok, regexp_replace(tok, '(.)', ' \\1 ', 'g')
         |      || ' </w> ' AS s, 0 AS r
         |    FROM words
         |  UNION ALL
         |  SELECT e.tok, replace(e.s, ' ' || m.a || '  ' || m.b || ' ',
         |      ' ' || m.a || m.b || ' '), e.r + 1
         |    FROM enc e JOIN m ON m.r = e.r),
         |fin AS (SELECT tok, list_filter(
         |    string_split_regex(trim(s), '\\s+'),
         |    p -> len(p) > 0) AS pieces
         |  FROM enc WHERE r = $n),
         |jp AS (SELECT o.doc_id, o.i, f.pieces
         |  FROM tok o JOIN fin f USING (tok)),
         |agg AS (SELECT doc_id, CAST(sum(len(pieces)) AS BIGINT)
         |      AS n_pieces,
         |    string_agg(array_to_string(pieces, ' '), ' ' ORDER BY i)
         |      AS es
         |  FROM jp GROUP BY doc_id)
         |SELECT tk.doc_id,
         |  CAST(coalesce(a.n_pieces, 0) AS BIGINT) AS n_pieces,
         |  ${sqlCharFold("coalesce(a.es, '')")} AS fp
         |FROM tk LEFT JOIN agg a USING (doc_id)
         |ORDER BY tk.doc_id""".stripMargin
    }),

    // DSIR importance weights toward the English slice (Xie et al.):
    // hashed-token bucket profiles (B = 64, portable hash), add-1
    // smoothed log-ratio, scored as a row-local literal fold — one
    // corpus pass for both profiles, zero joins in the scoring pass
    Entry("t29_dsir_weights", (s, dir) =>
      TextAnalysis.dsirWeights(tbl(s, dir, "documents"), "doc_id", "text",
          target = col("lang") === "en", buckets = 64, roundTo = 4)
        .orderBy("doc_id"),
      // replays the full DSIR pipeline: portable-hash token buckets, the
      // two smoothed profiles, the 64-entry log-ratio table (unseen
      // buckets get the symmetric prior), and the sequential per-doc fold
      s"""WITH toks AS (SELECT doc_id, lang,
         |    list_filter(string_split_regex(trim(text), '\\s+'),
         |      t -> len(t) > 0) AS ts
         |  FROM documents),
         |bks AS (SELECT doc_id, lang,
         |    list_transform(ts, t -> ${sqlCharFold("t")} % 64) AS bs
         |  FROM toks),
         |prof AS (SELECT b, count(*) AS raw,
         |    count(*) FILTER (WHERE lang = 'en') AS tgt
         |  FROM (SELECT lang, unnest(bs) AS b FROM bks) GROUP BY b),
         |tot AS (SELECT sum(raw) AS rt, sum(tgt) AS tt FROM prof),
         |lrarr AS (SELECT list(r ORDER BY b) AS arr FROM (
         |    SELECT gs.b AS b, coalesce(
         |        ln((p.tgt + 1.0) / (t.tt + 64)) - ln((p.raw + 1.0) / (t.rt + 64)),
         |        ln(1.0 / (t.tt + 64)) - ln(1.0 / (t.rt + 64))) AS r
         |    FROM (SELECT unnest(range(0, 64)) AS b) gs
         |    CROSS JOIN tot t
         |    LEFT JOIN prof p ON p.b = gs.b))
         |SELECT doc_id, round(list_reduce(list_prepend(0.0,
         |    list_transform(bs, b -> arr[CAST(b AS INT) + 1])),
         |    (acc, x) -> acc + x), 4) AS weight
         |FROM bks CROSS JOIN lrarr ORDER BY doc_id""".stripMargin),

    // DSIR at the Xie et al. feature set: hashed unigrams AND bigrams in
    // one shared 64-bucket space (t29 is the order-blind unigram tier).
    // Same one-pass profile + zero-join scoring fold; DuckDB replays the
    // bigram hash combine (list_zip + the window-fingerprint fold) and
    // the whole estimator end-to-end.
    Entry("t29b_dsir_ngram", (s, dir) =>
      TextAnalysis.dsirWeightsNgram(tblPar(s, dir, "documents", "doc_id"), "doc_id",
          "text", target = col("lang") === "en", buckets = 64, roundTo = 4)
        .orderBy("doc_id"),
      // the t29 estimator over the unigram+bigram shared-bucket features:
      // per-token charFold hashes, bigram combine (h1*1000003 + h2) mod
      // 2147483647 mod 64 via list_zip of the two shifted slices, then the
      // identical profile/smoothing/fold (ONE CTE-block definition shared
      // with the t30/p5 resampling oracles — the estimator replay can't
      // drift between them)
      s"""WITH ${dsirNgramCteBlock()}
         |SELECT doc_id, $sqlDsirNgramWeight AS weight
         |FROM bks CROSS JOIN lrarr ORDER BY doc_id""".stripMargin),

    // BPE at BYTE level (GPT-2 style): the multilingual-fidelity closure
    // of t28b, whose [a-z]+ tokenizer drops every non-ASCII token. The
    // pre-tokenizer keeps EVERYTHING (letter/digit runs | punctuation
    // runs, any script); each token's UTF-8 bytes become hex-pair base
    // symbols, so no character can be out-of-alphabet. Serving is the
    // same ONE-broadcast lowest-rank-first native loop (t28b), over a
    // genuine 1,000-merge model trained on the mixed-script fixture
    // (accented Latin + CJK + injected punctuation — derived by chained
    // literal replaces both engines compute identically). The DuckDB
    // twin rebuilds the fixture, re-derives the byte symbols via
    // lower(hex(encode(tok))), and replays the full 1,000-step
    // training-order chain per DISTINCT word — a green row proves the
    // byte-level encoder cross-engine on genuinely multilingual text.
    Entry("t28c_bpe_bytes", (s, dir) => {
      val model = TextAnalysis.bpeModelBytes(s, bpeMergesBytes1k)
      tbl(s, dir, "documents").filter(col("doc_id") < 400)
        .select(col("doc_id"),
          TextAnalysis.pairEnrichBytes(Fixtures.mixedScriptFixture(
            col("text"), col("lang"))).as("text"))
        .select(col("doc_id"),
          size(TextAnalysis.bpeEncodeFast(col("text"), model))
            .cast("long").as("n_pieces"),
          graft.functions.PortableHash.charFold(concat_ws(" ",
            TextAnalysis.bpeEncodeFast(col("text"), model)))
            .as("fp"))
        // always true; blocks column pruning under a bare count() (t28)
        .filter(col("n_pieces") >= 0)
        .orderBy("doc_id")
    },
      // byte-level chain replay: rebuild the mixed-script fixture and the
      // pair-enriched serving text, pre-tokenize with the loss-free
      // letter/digit-run | punctuation-run pattern, derive each distinct
      // word's base symbols from its UTF-8 bytes (lower(hex(encode))
      // split into 2-char groups), then advance every word one merge per
      // recursion step in TRAINING ORDER — proving the lowest-rank-first
      // byte-level native encoder emits the identical stream on
      // multilingual text
      s"""WITH RECURSIVE
         |$bpeBytesChainCtes,
         |jp AS (SELECT o.doc_id, o.i, f.pieces
         |  FROM tok o JOIN fin f USING (tok)),
         |agg AS (SELECT doc_id, CAST(sum(len(pieces)) AS BIGINT)
         |      AS n_pieces,
         |    string_agg(array_to_string(pieces, ' '), ' ' ORDER BY i)
         |      AS es
         |  FROM jp GROUP BY doc_id)
         |SELECT tk.doc_id,
         |  CAST(coalesce(a.n_pieces, 0) AS BIGINT) AS n_pieces,
         |  ${sqlCharFold("coalesce(a.es, '')")} AS fp
         |FROM tk LEFT JOIN agg a USING (doc_id)
         |ORDER BY tk.doc_id""".stripMargin),

    // the byte-level encoder straight to TOKEN IDS — what a training
    // pipeline persists (ints, 4 bytes/token): ids 0-255 = bytes, 256 =
    // EOW, 257+r = merge r (closed vocabulary, no UNK path exists).
    // Same corpus derivation and native loop as t28c; DuckDB maps the
    // replayed chain's pieces through the identically-rendered
    // first-wins vocab table, proving the id assignment cross-engine.
    Entry("t28d_bpe_ids", (s, dir) => {
      val model = TextAnalysis.bpeModelBytes(s, bpeMergesBytes1k)
      tbl(s, dir, "documents").filter(col("doc_id") < 400)
        .select(col("doc_id"),
          TextAnalysis.pairEnrichBytes(Fixtures.mixedScriptFixture(
            col("text"), col("lang"))).as("text"))
        .select(col("doc_id"),
          TextAnalysis.bpeEncodeIdsBytes(col("text"), model).as("ids"))
        .select(col("doc_id"),
          size(col("ids")).cast("long").as("n_pieces"),
          graft.functions.PortableHash.charFold(concat_ws(" ",
            transform(col("ids"), _.cast("string")))).as("fp"))
        // always true; blocks column pruning under a bare count() (t28)
        .filter(col("n_pieces") >= 0)
        .orderBy("doc_id")
    },
      // pieces from the same replayed chain, mapped through the
      // identically-rendered first-wins vocab table (ids 0-255 bytes,
      // 256 EOW, 257+r merge r) — the id assignment proven cross-engine
      {
      val vocabVals = bpeBytesVocab.map { case (p, id) =>
        s"(${sqlLit(p)}, $id)" }.mkString(", ")
      s"""WITH RECURSIVE
         |$bpeBytesChainCtes,
         |vb(piece, id) AS (SELECT * FROM (VALUES $vocabVals) v(piece, id)),
         |fex AS (SELECT tok, unnest(pieces) AS piece,
         |    unnest(generate_series(1, len(pieces))) AS pi FROM fin),
         |fid AS (SELECT f.tok,
         |    list(CAST(vb.id AS VARCHAR) ORDER BY f.pi) AS ids
         |  FROM fex f JOIN vb ON vb.piece = f.piece GROUP BY f.tok),
         |jp AS (SELECT o.doc_id, o.i, d.ids
         |  FROM tok o JOIN fid d USING (tok)),
         |agg AS (SELECT doc_id, CAST(sum(len(ids)) AS BIGINT)
         |      AS n_pieces,
         |    string_agg(array_to_string(ids, ' '), ' ' ORDER BY i) AS es
         |  FROM jp GROUP BY doc_id)
         |SELECT tk.doc_id,
         |  CAST(coalesce(a.n_pieces, 0) AS BIGINT) AS n_pieces,
         |  ${sqlCharFold("coalesce(a.es, '')")} AS fp
         |FROM tk LEFT JOIN agg a USING (doc_id)
         |ORDER BY tk.doc_id""".stripMargin
    }),

    // DSIR importance RESAMPLING (closes the Xie et al. loop the way
    // t27b closed Lee et al.: t29/t29b estimate weights, this CONSUMES
    // them): Gumbel-top-k with deterministic portable-hash noise —
    // key = log-weight + (−ln(−ln u)), u from charFold(doc_id) — selects
    // k=100 docs proportionally-without-replacement toward the English
    // target. Row-local key, TakeOrderedAndProject selection (no global
    // sort — plan-pinned); DuckDB replays weights → noise → selection
    // end-to-end.
    Entry("t30_dsir_resample", (s, dir) => {
      val w = TextAnalysis.dsirWeightsNgram(tblPar(s, dir, "documents", "doc_id"),
        "doc_id", "text", target = col("lang") === "en", buckets = 64,
        roundTo = 4)
      TextAnalysis.dsirResample(w, "doc_id", "weight", k = 100,
          roundTo = 4)
        .orderBy(desc("skey"), col("doc_id"))
    },
      // weights (shared t29b block) → deterministic Gumbel keys → top-100
      // by (skey desc, doc_id)
      s"""WITH ${dsirNgramCteBlock()},
         |w AS (SELECT doc_id, $sqlDsirNgramWeight AS weight
         |  FROM bks CROSS JOIN lrarr)
         |SELECT doc_id, weight,
         |  round(weight + ${sqlGumbel("doc_id")}, 4) AS skey
         |FROM w
         |ORDER BY skey DESC, doc_id LIMIT 100""".stripMargin),

    // Gopher quality-filter rule suite (Rae et al. 2021, Appendix A):
    // the published heuristic pretraining filter as per-rule booleans +
    // the keep conjunction, entirely row-local (scan-speed at 100 TB).
    // The line-level rules (bullets/ellipses/dup lines) and the
    // 2-distinct-stop-words rule are exercised through the deterministic
    // multi-line fixture — three plain replaces both engines compute
    // identically.
    Entry("t31_gopher_rules", (s, dir) => {
      val cols = TextAnalysis.gopherRules(col("text"))
        .map { case (n, c) => c.as(n) }
      tblPar(s, dir, "documents", "doc_id")
        .select(col("doc_id"),
          Fixtures.multiLineFixture(col("text")).as("text"))
        .select(col("doc_id") +: cols: _*)
        .orderBy("doc_id")
    },
      s"""WITH ${sqlGopherFx("documents")},
         |${sqlGopherMetrics("fx")}
         |SELECT doc_id,
         |${sqlGopherConds.map { case (n, c) =>
              s"  CAST($c AS INTEGER) AS $n," }.mkString("\n")}
         |  CAST($sqlGopherKeep AS INTEGER) AS keep
         |FROM gm ORDER BY doc_id""".stripMargin),

    // FUZZY benchmark decontamination (the near-dup tier t11's exact
    // n-gram probe cannot reach): MinHash-LSH between corpus and a
    // derived benchmark (every 50th doc, lightly edited — the
    // paraphrased-eval-item shape), exact-Jaccard verify on candidates.
    // Benchmark bands + shingle sets and the bounded candidate list all
    // broadcast; the corpus is never shuffled.
    Entry("t32_decontam_fuzzy", (s, dir) => {
      val docs = tbl(s, dir, "documents")
      val bench = docs.filter(col("doc_id") % 50 === 0)
        .select((col("doc_id") + 100000L).as("doc_id"),
          concat(col("text"), lit(" held out eval item")).as("text"))
      TextAnalysis.decontaminateFuzzy(docs, bench, "doc_id", "text",
          shingleN = 3, numHashes = 16, bands = 4, jaccardMin = 0.5)
        .orderBy("doc_id", "bench_id")
    },
      s"""WITH corp AS (SELECT doc_id, text FROM documents),
         |bench AS (SELECT doc_id + 100000 AS bench_id,
         |    text || ' held out eval item' AS text
         |  FROM documents WHERE doc_id % 50 = 0),
         |${sqlFuzzyLshCtes("corp", "bench")},
         |v AS (SELECT c.doc_id, c.bench_id, $sqlPairJaccard AS j
         |  FROM cand c JOIN chs ch ON ch.doc_id = c.doc_id
         |  JOIN bhs bh ON bh.bench_id = c.bench_id)
         |SELECT doc_id, bench_id, j FROM v WHERE j >= 0.5
         |ORDER BY doc_id, bench_id""".stripMargin),

    // PRODUCTION-VOCABULARY byte-level BPE (t28e): the 32,000-merge
    // model (real tokenizers run 32k-100k; t28c proved 1k) over the
    // DOUBLY pair-enriched mixed-script fixture. ORACLE TIER IS A
    // DOCUMENTED PREFIX: DuckDB replays the first 1,000 merges of the
    // 32k table (the t28c recursion materializes steps × distinct-words
    // rows — at 32k steps that is GBs of recursion state, beyond a
    // sane oracle budget), so this entry encodes with merges.take(1000)
    // and the prefix chain is proven cross-engine against the SHIPPED
    // 32k file. The FULL 32k serving path is pinned in ScalaTest:
    // bpeEncodeFast(32k) ≡ an independent driver-side
    // lowest-rank-first reference encoder, the decode round-trip, and
    // the flat-encode measurement (BpeBytesFlatMain) — the encoder's
    // per-token cost is table-size-independent by design.
    Entry("t28e_bpe_bytes_32k", (s, dir) => {
      val model = TextAnalysis.bpeModelBytes(s, bpeMergesBytes32k.take(1000))
      tbl(s, dir, "documents").filter(col("doc_id") < 60)
        .select(col("doc_id"),
          TextAnalysis.pairEnrichBytes(TextAnalysis.pairEnrichBytes(
            Fixtures.mixedScriptFixture(col("text"), col("lang"))))
            .as("text"))
        .select(col("doc_id"),
          size(TextAnalysis.bpeEncodeFast(col("text"), model))
            .cast("long").as("n_pieces"),
          graft.functions.PortableHash.charFold(concat_ws(" ",
            TextAnalysis.bpeEncodeFast(col("text"), model)))
            .as("fp"))
        .filter(col("n_pieces") >= 0)
        .orderBy("doc_id")
    },
      // the t28c replay shape on the DOUBLY-enriched fixture with the 32k
      // model's documented 1,000-merge PREFIX (full-table evidence lives
      // in the ScalaTest reference-encoder property + flat-encode
      // measurement; a 32k-step recursive replay would materialize
      // steps × distinct-words rows)
      s"""WITH RECURSIVE
         |$bpeBytes2PairTokCtes,
         |${bpeBytesMergeReplayCtesFor(bpeMergesBytes32k.take(1000))},
         |jp AS (SELECT o.doc_id, o.i, f.pieces
         |  FROM tok o JOIN fin f USING (tok)),
         |agg AS (SELECT doc_id, CAST(sum(len(pieces)) AS BIGINT)
         |      AS n_pieces,
         |    string_agg(array_to_string(pieces, ' '), ' ' ORDER BY i)
         |      AS es
         |  FROM jp GROUP BY doc_id)
         |SELECT tk.doc_id,
         |  CAST(coalesce(a.n_pieces, 0) AS BIGINT) AS n_pieces,
         |  ${sqlCharFold("coalesce(a.es, '')")} AS fp
         |FROM tk LEFT JOIN agg a USING (doc_id)
         |ORDER BY tk.doc_id""".stripMargin),

    // Gopher REPETITION rule suite (Rae et al. 2021, Table A1 — the
    // repetition-removal half the r12c t31 quality suite left out):
    // duplicate-paragraph fraction/chars, duplicate-line chars, top
    // 2/3/4-gram char fraction, duplicate 5..10-gram char fraction, all
    // at the published thresholds, entirely row-local (zero shuffles —
    // pinned). The fixture plants paragraph dups (every 11th doc) and a
    // 20×-repeated phrase (every 7th) so every tier fires both ways.
    Entry("t31b_gopher_repetition", (s, dir) => {
      val cols = TextAnalysis.gopherRepetitionRules(col("text"))
        .map { case (n, c) => c.as(n) }
      tbl(s, dir, "documents")
        .select(col("doc_id"),
          Fixtures.repetitionFixture(col("text")).as("text"))
        .select(col("doc_id") +: cols: _*)
        .orderBy("doc_id")
    },
      s"""WITH ${sqlRepFx("documents")},
         |${sqlGopherRepMetrics("fx")}
         |SELECT doc_id,
         |${sqlGopherRepConds.map { case (n, c) =>
              s"  CAST($c AS INTEGER) AS $n," }.mkString("\n")}
         |  CAST($sqlGopherRepKeep AS INTEGER) AS keep_rep
         |FROM grm ORDER BY doc_id""".stripMargin),

    // TRAINED quality classifier (the fastText curation recipe — the
    // tier the heuristic gates t8/t31/t31b stop short of): full-batch
    // logistic regression over the 64-bucket hashed-token feature space
    // (t29's convention) against a planted boilerplate-spam fixture
    // (every 7th doc dominated by a 20×-repeated spam phrase, labels =
    // the clean docs), 3 rounded deterministic GD steps (ONE
    // map-combinable ≤64-row gradient aggregate per step — the kmeans
    // driver-state convention), then the trained weights served through
    // the t8 linearScore zero-join zero-shuffle scan. DuckDB replays
    // init → 3 gradient steps → scoring END-TO-END. The trained model
    // separates cleanly: spam docs score ≈0.3, clean ≈0.9.
    Entry("t33_trained_quality", (s, dir) => {
      val docs = tbl(s, dir, "documents")
        .select(col("doc_id"),
          Fixtures.spamFixture(col("text"), col("doc_id")).as("text"))
      TextAnalysis.trainedQualityScore(docs, "doc_id", "text",
          label = pmod(col("doc_id"), lit(7L)) =!= 0, buckets = 64,
          steps = 3, lr = 128.0)
        .orderBy("doc_id")
    },
      // spam fixture → init w=0 → 3 full-batch gradient steps (per-bucket
      // err/n sums, HALF_UP-rounded updates) → linearScore sigmoid scan,
      // replayed end-to-end over the planted clean/spam labels
      s"""WITH ${sqlSpamFx("documents")},
         |lab AS (SELECT doc_id,
         |    CASE WHEN doc_id % 7 <> 0 THEN 1.0 ELSE 0.0 END AS y, text
         |  FROM sfx),
         |${sqlLogisticChain("lab", "sfx", 64, 3, 128.0)}
         |SELECT doc_id, n_tokens, score FROM lg_sc
         |ORDER BY doc_id""".stripMargin),

    // TRAINED language ID (the trained tier over t7's heuristic — real
    // langid classifiers like fastText's lid.176 are trained, not
    // rule-based), at its PRODUCTION shape (r15 — the r14 entry trained
    // 8 steps × 5 models on the FULL corpus inside the timed query, the
    // suite's most expensive row): one-vs-rest logistic models per
    // language over the shared 64-bucket hashed-token space train on a
    // BOUNDED SEED slice (doc_id < 250 — p9's distillation shape; cost
    // capped by the seed, not the corpus), PERSIST to parquet
    // (saveLinearModels — the v17 codebook convention; parquet
    // round-trips doubles bit-exactly, load→serve ≡ train→serve
    // pinned), and the FULL corpus serves from the loaded artifact: one
    // row-local argmax scan over a broadcast weight matrix (zero joins,
    // zero shuffles; ties to the alphabetically smallest language —
    // matters only for empty-token docs where every model scores 0.5).
    // DuckDB replays all five seed-training chains + the argmax serve.
    Entry("t34_trained_langid", (s, dir) => {
      val docs = tblPar(s, dir, "documents", "doc_id")
        .select(col("doc_id"), col("lang"),
          Fixtures.mixedScriptFixture(col("text"), col("lang"))
            .as("text"))
      val langs = Seq("de", "en", "es", "fr", "zh")
      // all five models train in ONE exploded aggregate per step
      // (≤ 5·64 driver rows) — the trajectory is identical to five
      // independent trainLogistic runs (pinned), so the oracle still
      // replays the chains independently
      val seed = docs.filter(col("doc_id") < 250)
      val models = TextAnalysis.trainLogisticMulti(seed, "doc_id", "text",
        langs.map(l => l -> (col("lang") === l)), buckets = 64, steps = 8,
        lr = 256.0)
      // loading collects the rows, so the artifact can go before the
      // frame is returned
      val loaded = withTempDir("graft_lm") { art =>
        TextAnalysis.saveLinearModels(s, art, models)
        TextAnalysis.loadLinearModels(s, art)
      }
      TextAnalysis.langIdTrained(docs, "doc_id", "text", loaded)
        .orderBy("doc_id")
    },
      // five one-vs-rest training chains over the BOUNDED SEED slice
      // (ONE shared generator with the t33/p9 oracles — the trainer
      // replay cannot drift), full-corpus serving, then the argmax rank
      // ORDER BY (score DESC, lang ASC), the SQL twin of the Spark
      // side's broadcast argmax (strictly-greater over lang-sorted
      // models)
      {
      val langs = Seq("de", "en", "es", "fr", "zh")
      val chains = langs.map { l =>
        s"""lab_$l AS (SELECT doc_id,
           |    CASE WHEN lang = '$l' THEN 1.0 ELSE 0.0 END AS y, text
           |  FROM fxd WHERE doc_id < 250),
           |${sqlLogisticChain(s"lab_$l", "fxd", 64, 8, 256.0,
               prefix = s"lg_$l")}""".stripMargin
      }.mkString(",\n")
      val union = langs.map(l =>
        s"SELECT doc_id, '$l' AS lang, score FROM lg_${l}_sc")
        .mkString("\n  UNION ALL ")
      s"""WITH fxd AS (SELECT doc_id, lang, $sqlMixedScript AS text
         |  FROM documents),
         |$chains,
         |allsc AS (
         |  $union),
         |rk AS (SELECT doc_id, lang, score, row_number() OVER (
         |  PARTITION BY doc_id ORDER BY score DESC, lang) AS rn
         |  FROM allsc)
         |SELECT doc_id, lang AS lang_pred, score FROM rk WHERE rn = 1
         |ORDER BY doc_id""".stripMargin
    }),

    // CLASSIFIER EVALUATION HARNESS (t35 — the annRecall analog for
    // trained gates; closes the r14 gap "a user can't pick a gate
    // threshold the way they pick nprobe"): t33's trained quality
    // classifier scored against the planted GROUND TRUTH (doc_id%7≠0 =
    // clean), swept over a 20-point threshold grid —
    // precision/recall/F1/confusion per threshold. The grid is what
    // justifies p9's label-prior operating point: recall collapses
    // fast above the prior while precision is already ~1 below it.
    // ONE map-combinable ⌊score·20⌋ bucket aggregate (≤ 20 groups),
    // then conditional sums over the grid-sized table — no second
    // data pass. DuckDB replays training → scoring → the grid.
    Entry("t35_gate_eval", (s, dir) => {
      val docs = tbl(s, dir, "documents")
        .select(col("doc_id"),
          Fixtures.spamFixture(col("text"), col("doc_id")).as("text"))
      val scored = TextAnalysis.trainedQualityScore(docs, "doc_id",
          "text", label = pmod(col("doc_id"), lit(7L)) =!= 0,
          buckets = 64, steps = 3, lr = 128.0)
        .withColumn("y", (pmod(col("doc_id"), lit(7L)) =!= 0).cast("int"))
      TextAnalysis.classifierEval(scored, "score", "y", grid = 20)
    },
      // t33's training chain (the SHARED generator), then the threshold
      // grid: bucket rows at ⌊score·20⌋, group-sum pos/neg, conditional
      // sums per threshold; precision/recall computed UNROUNDED for the
      // F1 division (as the Spark side does), all three rounded at 6
      s"""WITH ${sqlSpamFx("documents")},
         |lab AS (SELECT doc_id,
         |    CASE WHEN doc_id % 7 <> 0 THEN 1.0 ELSE 0.0 END AS y, text
         |  FROM sfx),
         |${sqlLogisticChain("lab", "sfx", 64, 3, 128.0)},
         |ev AS (SELECT
         |    least(greatest(CAST(floor(score * 20) AS BIGINT), 0), 19)
         |      AS b,
         |    CASE WHEN doc_id % 7 <> 0 THEN 1.0 ELSE 0.0 END AS y
         |  FROM lg_sc),
         |cnt AS (SELECT b, sum(y) AS pos, sum(1.0 - y) AS neg
         |  FROM ev GROUP BY b),
         |th AS (SELECT unnest(range(0, 20)) AS i),
         |cf AS (SELECT i,
         |    sum(CASE WHEN c.b >= t.i THEN c.pos ELSE 0.0 END) AS tp,
         |    sum(CASE WHEN c.b >= t.i THEN c.neg ELSE 0.0 END) AS fp,
         |    sum(CASE WHEN c.b < t.i THEN c.pos ELSE 0.0 END) AS fn,
         |    sum(CASE WHEN c.b < t.i THEN c.neg ELSE 0.0 END) AS tn
         |  FROM th t CROSS JOIN cnt c GROUP BY i),
         |pr AS (SELECT i, tp, fp, fn, tn,
         |    CASE WHEN tp + fp > 0 THEN tp / (tp + fp) ELSE 0.0 END AS p,
         |    CASE WHEN tp + fn > 0 THEN tp / (tp + fn) ELSE 0.0 END AS r
         |  FROM cf)
         |SELECT CAST(i AS DOUBLE) / 20 AS threshold,
         |  CAST(tp AS BIGINT) AS tp, CAST(fp AS BIGINT) AS fp,
         |  CAST(fn AS BIGINT) AS fn, CAST(tn AS BIGINT) AS tn,
         |  round(p, 6) AS "precision", round(r, 6) AS recall,
         |  round(CASE WHEN p + r > 0 THEN 2.0 * p * r / (p + r)
         |    ELSE 0.0 END, 6) AS f1
         |FROM pr ORDER BY threshold""".stripMargin),

    // GOPHER DUP-N-GRAM CHARACTER-COVERAGE TIER (t36 — closes the last
    // documented deviation from Rae et al. Table A1): the published
    // accounting counts each character ONCE however many duplicated
    // n-grams cover it; the default tier (t31b) charges overlapping
    // duplicated grams multiply, strictly stricter. Both run here over
    // the t31b repetition fixture — per-doc coverage fractions (5- to
    // 10-gram), the coverage keep bit, and the strict keep bit side by
    // side (strict=1 ⟹ coverage=1 on every row, the documented
    // direction). Row-local codegen'd pass, zero shuffles. DuckDB
    // replays the span interval-union per document.
    Entry("t36_gopher_rep_coverage", (s, dir) => {
      val cov = TextAnalysis.gopherDupCoverage(col("text"))
      val strict = TextAnalysis.gopherRepetitionRules(col("text")).toMap
      tblPar(s, dir, "documents", "doc_id")
        .select(col("doc_id"),
          Fixtures.repetitionFixture(col("text")).as("text"))
        .select((col("doc_id") +:
          (5 to 10).map(n =>
            cov.getField(s"cov${n}gram_frac").as(s"cov${n}gram_frac"))) ++
          Seq(cov.getField("keep_rep_cov").as("keep_rep_cov"),
            strict("keep_rep").as("keep_rep")): _*)
        .orderBy("doc_id")
    },
      // the strict-tier CTEs (shared generators with t31b/p8) provide
      // tokens + the strict keep bit; the coverage tier positions every
      // duplicated-gram occurrence in the space-joined token rendering
      // (cumulative token starts) and interval-unions the spans per
      // document — each char counted once, the published accounting
      {
      val covCtes = (5 to 10).map { n =>
        s"""cg$n AS (SELECT doc_id, unnest(sh$n) AS gram,
           |    unnest(range(1, len(sh$n) + 1)) AS i FROM gsh),
           |cd$n AS (SELECT doc_id, gram FROM cg$n
           |  GROUP BY doc_id, gram HAVING count(*) >= 2),
           |cs$n AS (SELECT c.doc_id, st.s AS s, st.s + len(c.gram) AS e
           |  FROM cg$n c JOIN cd$n d ON d.doc_id = c.doc_id
           |    AND d.gram = c.gram
           |  JOIN cst st ON st.doc_id = c.doc_id AND st.i = c.i),
           |cu$n AS (SELECT doc_id,
           |    sum(greatest(e - greatest(s, pm), 0)) AS cov
           |  FROM (SELECT doc_id, s, e,
           |      coalesce(max(e) OVER (PARTITION BY doc_id ORDER BY s, e
           |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
           |        AS pm
           |    FROM cs$n)
           |  GROUP BY doc_id)""".stripMargin
      }.mkString(",\n")
      val covFracs = (5 to 10).map(n =>
        s"round(coalesce(cu$n.cov, 0) / w.nc, 6) AS cov${n}gram_frac")
        .mkString(",\n  ")
      val covThr = Map(5 -> "0.15", 6 -> "0.14", 7 -> "0.13",
        8 -> "0.12", 9 -> "0.11", 10 -> "0.10")
      val covKeep = (5 to 10).map(n =>
        s"coalesce(cu$n.cov, 0) / w.nc <= ${covThr(n)}").mkString(" AND ")
      val covJoins = (5 to 10).map(n =>
        s"LEFT JOIN cu$n ON cu$n.doc_id = w.doc_id").mkString("\n")
      s"""WITH ${sqlRepFx("documents")},
         |${sqlGopherRepMetrics("fx")},
         |cst AS MATERIALIZED (SELECT doc_id, i2 AS i,
         |    coalesce(sum(tl) OVER (PARTITION BY doc_id
         |      ORDER BY i2 ROWS BETWEEN UNBOUNDED PRECEDING
         |      AND 1 PRECEDING), 0) AS s
         |  FROM (SELECT doc_id,
         |      unnest(list_transform(ws, x -> len(x) + 1)) AS tl,
         |      unnest(range(1, len(ws) + 1)) AS i2 FROM grw)),
         |$covCtes
         |SELECT w.doc_id,
         |  $covFracs,
         |  CAST(($covKeep) AS INTEGER) AS keep_rep_cov,
         |  CAST(($sqlGopherRepKeep) AS INTEGER) AS keep_rep
         |FROM grw w
         |JOIN grm ON grm.doc_id = w.doc_id
         |$covJoins
         |ORDER BY w.doc_id""".stripMargin
    }),

    // MINI-BATCH SGD trainer tier (t37 — full-batch GD is the
    // distillation demo; mini-batch is what the 100 TB recipe runs):
    // t33's quality-classifier recipe trained by deterministic SGD —
    // batch membership is the portable charFold of the doc id (the
    // Gumbel-sampler determinism trick), 2 epochs × 4 in-order
    // batches, per-step gradients over ONLY the batch normalized by
    // the batch size, same rounded-update replay contract. batches=1
    // reproduces t33's full-batch trajectory bit for bit (pinned).
    // DuckDB replays all 8 batch steps through the SHARED chain
    // generator (batches > 1 arm).
    Entry("t37_trained_sgd", (s, dir) => {
      val docs = tblPar(s, dir, "documents", "doc_id")
        .select(col("doc_id"),
          Fixtures.spamFixture(col("text"), col("doc_id")).as("text"))
      val w = TextAnalysis.trainLogistic(docs, "doc_id", "text",
        label = pmod(col("doc_id"), lit(7L)) =!= 0, buckets = 64,
        steps = 2, batches = 4, lr = 128.0)
      TextAnalysis.linearScore(docs, "doc_id", "text", dim = 64,
          weights = Some(w), bias = 0.0)
        .orderBy("doc_id")
    },
      // spam fixture → portable-hash batch assignment → 2 epochs × 4
      // in-order batch steps (per-batch nd, rounded gradient sums and
      // updates) → the linearScore sigmoid scan, replayed end-to-end
      s"""WITH ${sqlSpamFx("documents")},
         |lab AS (SELECT doc_id,
         |    CASE WHEN doc_id % 7 <> 0 THEN 1.0 ELSE 0.0 END AS y, text
         |  FROM sfx),
         |${sqlLogisticChain("lab", "sfx", 64, 8, 128.0, batches = 4)}
         |SELECT doc_id, n_tokens, score FROM lg_sc
         |ORDER BY doc_id""".stripMargin),
  )
}
