package graft.pipeline

import graft.ops.TextOps

/**
 * DERIVED-INPUT DuckDB oracles for the corpus queries whose input is the
 * extracted page corpus rather than a driver parquet table. The page
 * corpus never reaches DuckDB — but the extraction DUMP does: `Verify`
 * writes every query's result under its outDir, so the post-extraction
 * logic (aggregation, classifiers, paragraph dedup, quality scoring) can
 * be replayed cross-engine over a DuckDB read_parquet of that dump.
 * This verifies the OPERATOR layer independently in a second
 * engine; the extraction layer feeding it is separately gated by the
 * fixture twins (oracle-checked VALUES) and the 103 frozen goldens.
 * These oracles are only emitted when [[graft.SparkEntry.verifyOutDir]]
 * is set (Verify sets it); otherwise the queries stay rows-only exactly
 * as before.
 *
 * Floating-point replays (`quality_pages`, `langid_pages`) re-run the
 * identical double arithmetic in the same operation order; outputs are
 * 4-decimal-rounded with explicit `floor(x·1e4 + 0.5)` on both sides.
 */
object DerivedOracles {

  private def q(s: String): String = s.replace("'", "''")

  private def dump(outDir: String, name: String): String =
    s"read_parquet('${outDir}/$name/*.parquet')"

  /** Exact-dedup aggregate over the normalized-extraction dump: the
    * count + keeper selection is pure SQL. */
  def dedupExactPages(outDir: String): String =
    s"SELECT norm_hash, count(*) AS n, min(url) AS keeper_url " +
      s"FROM ${dump(outDir, "extract_normalized")} " +
      "GROUP BY norm_hash ORDER BY norm_hash"

  /** Cross-document paragraph dedup (minDocFreq = 5) replayed over the
    * normalized-extraction dump: split on \n{2,}, trim, doc-freq per
    * distinct paragraph, drop the boilerplate tail, rebuild in order. */
  def paraDedupPages(outDir: String): String =
    s"WITH base AS (SELECT url, normalized_text FROM ${dump(outDir, "extract_normalized")}), " +
      "ps AS (SELECT url, regexp_split_to_array(normalized_text, '\\n{2,}') AS parr FROM base), " +
      "ix AS (SELECT url, parr, unnest(generate_series(1, len(parr))) AS idx FROM ps), " +
      "segs AS (SELECT url, idx, trim(parr[idx]) AS para FROM ix WHERE trim(parr[idx]) <> ''), " +
      "boiler AS (SELECT para FROM segs GROUP BY para HAVING count(DISTINCT url) >= 5), " +
      "marked AS (SELECT s.url, s.idx, s.para, b.para IS NOT NULL AS dropped " +
      "FROM segs s LEFT JOIN boiler b USING (para)), " +
      "agg AS (SELECT url, " +
      "coalesce(string_agg(CASE WHEN NOT dropped THEN para END, chr(10) || chr(10) ORDER BY idx), '') AS txt, " +
      "count(*) AS paras_total, " +
      "sum(CASE WHEN dropped THEN 1 ELSE 0 END) AS paras_removed, " +
      "sum(CASE WHEN dropped THEN length(para) ELSE 0 END) AS chars_removed " +
      "FROM marked GROUP BY url) " +
      "SELECT b.url, CAST(length(coalesce(a.txt, '')) AS INT) AS n_chars, " +
      "CAST(coalesce(a.paras_total, 0) AS BIGINT) AS paras_total, " +
      "CAST(coalesce(a.paras_removed, 0) AS BIGINT) AS paras_removed, " +
      "CAST(coalesce(a.chars_removed, 0) AS BIGINT) AS chars_removed " +
      "FROM base b LEFT JOIN agg a USING (url) ORDER BY url"

  private def sqlStringList(words: Iterable[String]): String =
    words.map(w => s"'${q(w)}'").mkString("[", ", ", "]")

  /** TextOps.quality replayed over the content dump: char-class counts,
    * stopword ratio (en profile, words stripped of non-letters), and the
    * composite score with the identical term order and Math.round(x·1e4)
    * semantics. */
  def qualityPages(outDir: String): String = {
    val en = sqlStringList(TextOps.profiles("en").toSeq.sorted)
    s"WITH base AS (SELECT url, text_content AS t FROM ${dump(outDir, "extract_content")}), " +
      "w AS (SELECT url, t, list_filter(regexp_split_to_array(lower(t), '\\s+'), x -> x <> '') AS ws FROM base), " +
      "m AS (SELECT url, t, ws, length(t) AS n, len(ws) AS n_words, " +
      "CASE WHEN len(ws) = 0 THEN 0.0 ELSE CAST(list_sum(list_transform(ws, x -> length(x))) AS DOUBLE) / len(ws) END AS mean_word_len, " +
      s"CASE WHEN len(ws) = 0 THEN 0.0 ELSE CAST(len(list_filter(ws, x -> list_contains($en, regexp_replace(x, '[^\\p{L}]', '', 'g')))) AS DOUBLE) / len(ws) END AS stop_ratio, " +
      "CAST(length(regexp_replace(t, '[^\\p{Lu}]', '', 'g')) AS DOUBLE) / length(t) AS upper_ratio, " +
      "CAST(length(regexp_replace(t, '[^\\p{Nd}]', '', 'g')) AS DOUBLE) / length(t) AS digit_ratio " +
      "FROM w WHERE length(t) > 0), " +
      "s AS (SELECT url, n, n_words, " +
      "least(1.0, n_words / 100.0) * 0.3 " +
      "+ (CASE WHEN n_words > 0 AND mean_word_len >= 3 AND mean_word_len <= 10 THEN 1.0 ELSE 0.3 END) * 0.2 " +
      "+ least(1.0, stop_ratio / 0.25) * 0.3 " +
      "+ 0.2 * (CASE WHEN upper_ratio > 0.3 THEN 0.3 ELSE 1.0 END) * (CASE WHEN digit_ratio > 0.3 THEN 0.3 ELSE 1.0 END) AS score " +
      "FROM m) " +
      "SELECT b.url, CAST(coalesce(s.n, 0) AS INT) AS n_chars, " +
      "CAST(coalesce(s.n_words, 0) AS INT) AS n_words, " +
      "coalesce(floor(s.score * 10000 + 0.5) / 10000, 0.0) AS quality_score " +
      "FROM base b LEFT JOIN s USING (url) ORDER BY url"
  }

  /** TextOps.detectLanguage tier 2 (Latin stopword profiles, declared
    * tie-break order, first-500-words cap) over the content dump. Tier 1
    * (non-Latin scripts) is structurally dead on this ASCII corpus — the
    * oracle-gated `langid_fixture` covers those branches. */
  def langidPages(outDir: String): String = {
    val hitExprs = TextOps.profileOrder.map { lang =>
      val stops = sqlStringList(TextOps.profiles(lang).toSeq.sorted)
      s"len(list_filter(ws, x -> list_contains($stops, x))) AS h_$lang"
    }.mkString(", ")
    // winner = FIRST lang in declared order whose hits equal the max
    // (the Scala loop keeps a lang only on strictly-greater hits)
    val mx = "greatest(" + TextOps.profileOrder.map("h_" + _).mkString(", ") + ")"
    val bestLang = "CASE WHEN mx = 0 THEN 'und' " +
      TextOps.profileOrder.map(l => s"WHEN h_$l = mx THEN '$l'").mkString(" ") +
      " END"
    s"WITH base AS (SELECT url, text_content AS t FROM ${dump(outDir, "extract_content")}), " +
      "w AS (SELECT url, list_filter(regexp_split_to_array(lower(t), '[^\\p{L}]+'), x -> x <> '')[1:500] AS ws FROM base), " +
      s"h0 AS (SELECT url, ws, $hitExprs FROM w), " +
      s"h AS (SELECT *, $mx AS mx FROM h0), " +
      s"r AS (SELECT url, CASE WHEN len(ws) = 0 THEN 'und' ELSE $bestLang END AS detected_lang, " +
      s"CASE WHEN len(ws) = 0 OR mx = 0 THEN 0.0 ELSE CAST(mx AS DOUBLE) / len(ws) END AS conf FROM h) " +
      "SELECT url, detected_lang, floor(conf * 10000 + 0.5) / 10000 AS confidence " +
      "FROM r ORDER BY url"
  }

  /** RepetitionOps.profile + gopherFilter replayed over the normalized-
    * extraction dump: word stats, top-2/3/4-gram counts and char coverage,
    * duplicated-5..10-gram char coverage (repeated windows → covered
    * positions → summed word lengths, no double count), line/paragraph
    * excess-occurrence stats, symbol counts, and the full default-threshold
    * Gopher verdict with reason codes in rule order. */
  /** CTE chain replaying [[graft.ops.RepetitionOps.profile]] +
    * [[graft.ops.RepetitionOps.gopherFilter]] over a `(url, t)` relation:
    * emits `base AS ($baseSelect)` through `v(url, …signals…, reasons)`
    * where `reasons` is the verdict's `mkString("+")` (empty = keep).
    * Shared by the standalone `repetition_pages` oracle and the quality
    * stage of the `curation_pages` replay. */
  private def profileCtes(baseSelect: String): String = {
    val th = graft.ops.RepetitionOps.Thresholds()
    val stops = sqlStringList(graft.ops.RepetitionOps.StopWords.toSeq.sorted)

    // top-n-gram CTEs (n = 2..4): occurrences of the most frequent gram and
    // max over repeated grams of occurrences × gram chars
    def topCtes(n: Int): String = {
      val zips = (1 to n).map { k =>
        if (k == n) s"ws[$n:]" else s"ws[$k:len(ws)-${n - k}]"
      }.mkString(", ")
      val gchars = (1 to n).map(k => s"length(p[$k])").mkString(" + ")
      s"g$n AS (SELECT url, p, count(*) AS c, $gchars AS gchars " +
        s"FROM (SELECT url, unnest(list_zip($zips)) AS p FROM w WHERE len(ws) >= $n) GROUP BY url, p, gchars), " +
        s"t$n AS (SELECT url, max(c) AS top${n}_count, " +
        s"coalesce(max(CASE WHEN c > 1 THEN c * gchars END), 0) AS top${n}_chars FROM g$n GROUP BY url)"
    }
    // duplicated-n-gram coverage CTEs (n = 5..10)
    def dupCtes(n: Int): String =
      s"s$n AS (SELECT url, ws, unnest(generate_series(1, len(ws) - ${n - 1})) AS s FROM w WHERE len(ws) >= $n), " +
        s"gm$n AS (SELECT url, s, ws[s:s+${n - 1}] AS g FROM s$n), " +
        s"rp$n AS (SELECT url, g FROM gm$n GROUP BY url, g HAVING count(*) > 1), " +
        s"cv$n AS (SELECT DISTINCT url, pos FROM (SELECT gm.url, unnest(generate_series(gm.s, gm.s + ${n - 1})) AS pos " +
        s"FROM gm$n gm JOIN rp$n USING (url, g))), " +
        s"d$n AS (SELECT cv.url, sum(length(w.ws[cv.pos])) AS dup_chars FROM cv$n cv JOIN w USING (url) GROUP BY cv.url)"

    def frac(num: String, den: String): String =
      s"coalesce(CAST($num AS DOUBLE) / nullif($den, 0), 0)"
    val reasonCases = Seq(
      s"CASE WHEN n_words < ${th.minWords} THEN 'too_few_words' END",
      s"CASE WHEN n_words > ${th.maxWords} THEN 'too_many_words' END",
      s"CASE WHEN n_words > 0 AND (CAST(word_chars AS DOUBLE) / n_words < ${th.minMeanWordLen} " +
        s"OR CAST(word_chars AS DOUBLE) / n_words > ${th.maxMeanWordLen}) THEN 'mean_word_length' END",
      s"CASE WHEN ${frac("n_hash + n_ellipsis", "n_words")} > ${th.maxSymbolRatio} THEN 'symbol_ratio' END",
      s"CASE WHEN ${frac("bullet_lines", "n_lines")} > ${th.maxBulletLineFrac} THEN 'bullet_lines' END",
      s"CASE WHEN ${frac("ellipsis_lines", "n_lines")} > ${th.maxEllipsisLineFrac} THEN 'ellipsis_lines' END",
      s"CASE WHEN n_words > 0 AND CAST(alpha_words AS DOUBLE) / n_words < ${th.minAlphaWordFrac} THEN 'alpha_words' END",
      s"CASE WHEN stop_hits < ${th.minStopHits} THEN 'stopwords' END",
      s"CASE WHEN ${frac("dup_lines", "n_lines")} > ${th.maxDupLineFrac} THEN 'dup_lines' END",
      s"CASE WHEN ${frac("dup_paras", "n_paras")} > ${th.maxDupParaFrac} THEN 'dup_paras' END",
      s"CASE WHEN ${frac("dup_line_chars", "line_chars")} > ${th.maxDupLineCharFrac} THEN 'dup_line_chars' END",
      s"CASE WHEN ${frac("dup_para_chars", "para_chars")} > ${th.maxDupParaCharFrac} THEN 'dup_para_chars' END",
      s"CASE WHEN ${frac("top2_chars", "word_chars")} > ${th.maxTop2CharFrac} THEN 'top_2gram' END",
      s"CASE WHEN ${frac("top3_chars", "word_chars")} > ${th.maxTop3CharFrac} THEN 'top_3gram' END",
      s"CASE WHEN ${frac("top4_chars", "word_chars")} > ${th.maxTop4CharFrac} THEN 'top_4gram' END") ++
      (5 to 10).map { n =>
        s"CASE WHEN ${frac(s"dup$n", "word_chars")} > ${th.maxDupNCharFrac(n - 5)} THEN 'dup_${n}gram' END"
      }

    s"base AS ($baseSelect), " +
      "w AS (SELECT url, t, CASE WHEN trim(t) = '' THEN CAST([] AS VARCHAR[]) " +
      "ELSE (regexp_split_to_array(trim(t), '\\s+'))[1:200000] END AS ws FROM base), " +
      "wc AS (SELECT url, unnest(ws) AS word FROM w), " +
      "wa AS (SELECT url, count(*) AS n_words, sum(length(word)) AS word_chars, " +
      "sum(CASE WHEN regexp_matches(word, '[A-Za-z]') THEN 1 ELSE 0 END) AS alpha_words, " +
      s"count(DISTINCT CASE WHEN list_contains($stops, word) THEN word END) AS stop_hits FROM wc GROUP BY url), " +
      (2 to 4).map(topCtes).mkString("", ", ", ", ") +
      (5 to 10).map(dupCtes).mkString("", ", ", ", ") +
      "ln AS (SELECT url, list_filter(list_transform(string_split(t, chr(10)), x -> trim(x)), x -> x <> '') AS lns FROM base), " +
      "lnc AS (SELECT url, unnest(lns) AS l FROM ln), " +
      "lg AS (SELECT url, l, count(*) AS c, length(l) AS len FROM lnc GROUP BY url, l), " +
      "la AS (SELECT url, sum(c) AS n_lines, sum(CASE WHEN c > 1 THEN c - 1 ELSE 0 END) AS dup_lines, " +
      "sum(c * len) AS line_chars, sum(CASE WHEN c > 1 THEN (c - 1) * len ELSE 0 END) AS dup_line_chars FROM lg GROUP BY url), " +
      "lb AS (SELECT url, sum(CASE WHEN starts_with(l, '- ') OR starts_with(l, '* ') OR starts_with(l, '•') THEN 1 ELSE 0 END) AS bullet_lines, " +
      "sum(CASE WHEN (length(l) >= 3 AND substr(l, length(l) - 2) = '...') OR substr(l, length(l)) = '…' THEN 1 ELSE 0 END) AS ellipsis_lines FROM lnc GROUP BY url), " +
      "pn AS (SELECT url, list_filter(list_transform(regexp_split_to_array(t, '\\n{2,}'), x -> trim(x)), x -> x <> '') AS ps FROM base), " +
      "pc AS (SELECT url, unnest(ps) AS p FROM pn), " +
      "pg AS (SELECT url, p, count(*) AS c, length(p) AS len FROM pc GROUP BY url, p), " +
      "pa AS (SELECT url, sum(c) AS n_paras, sum(CASE WHEN c > 1 THEN c - 1 ELSE 0 END) AS dup_paras, " +
      "sum(c * len) AS para_chars, sum(CASE WHEN c > 1 THEN (c - 1) * len ELSE 0 END) AS dup_para_chars FROM pg GROUP BY url), " +
      "sy AS (SELECT url, length(t) - length(replace(t, '#', '')) AS n_hash, " +
      "(length(t) - length(replace(t, '...', ''))) // 3 AS n_ellipsis FROM base), " +
      "m AS (SELECT b.url, coalesce(wa.n_words, 0) AS n_words, coalesce(wa.word_chars, 0) AS word_chars, " +
      "coalesce(wa.alpha_words, 0) AS alpha_words, coalesce(wa.stop_hits, 0) AS stop_hits, " +
      (2 to 4).map(n => s"coalesce(t$n.top${n}_count, 0) AS top${n}_count, coalesce(t$n.top${n}_chars, 0) AS top${n}_chars, ").mkString +
      (5 to 10).map(n => s"coalesce(d$n.dup_chars, 0) AS dup$n, ").mkString +
      "coalesce(la.n_lines, 0) AS n_lines, coalesce(la.dup_lines, 0) AS dup_lines, " +
      "coalesce(la.line_chars, 0) AS line_chars, coalesce(la.dup_line_chars, 0) AS dup_line_chars, " +
      "coalesce(lb.bullet_lines, 0) AS bullet_lines, coalesce(lb.ellipsis_lines, 0) AS ellipsis_lines, " +
      "coalesce(pa.n_paras, 0) AS n_paras, coalesce(pa.dup_paras, 0) AS dup_paras, " +
      "coalesce(pa.para_chars, 0) AS para_chars, coalesce(pa.dup_para_chars, 0) AS dup_para_chars, " +
      "sy.n_hash, sy.n_ellipsis " +
      "FROM base b LEFT JOIN wa USING (url) " +
      (2 to 4).map(n => s"LEFT JOIN t$n USING (url) ").mkString +
      (5 to 10).map(n => s"LEFT JOIN d$n USING (url) ").mkString +
      "LEFT JOIN la USING (url) LEFT JOIN lb USING (url) LEFT JOIN pa USING (url) JOIN sy USING (url)), " +
      s"v AS (SELECT *, concat_ws('+', ${reasonCases.mkString(", ")}) AS reasons FROM m)"
  }

  def repetitionPages(outDir: String): String =
    "WITH " +
      profileCtes(s"SELECT url, normalized_text AS t FROM ${dump(outDir, "extract_normalized")}") +
      " SELECT url, CAST(n_words AS BIGINT) AS n_words, CAST(dup_lines AS BIGINT) AS dup_lines, " +
      "CAST(top2_count AS BIGINT) AS top2_count, CAST(dup5 AS BIGINT) AS dup5_chars, " +
      "reasons = '' AS keep, reasons FROM v ORDER BY url"

  /** Enhancer.enhance over the stub provider replayed over the content
    * dump: excerpt-wins content selection, first-sentence summary,
    * first-5-distinct-long-words tags, capitalized-token people, and the
    * URL-pattern classify with its 0.7 confidence gate. */
  def enhancePages(outDir: String): String =
    s"WITH base AS (SELECT url, text_content, excerpt FROM ${dump(outDir, "extract_content")}), " +
      "c AS (SELECT url, CASE WHEN excerpt IS NOT NULL AND excerpt <> '' THEN excerpt " +
      "ELSE substr(coalesce(text_content, ''), 1, 10000) END AS content FROM base), " +
      "x AS (SELECT url, arr, unnest(generate_series(1, len(arr))) AS i " +
      "FROM (SELECT url, regexp_split_to_array(content, '[^\\p{L}]+') AS arr FROM c)), " +
      "tw AS (SELECT url, i, lower(arr[i]) AS w FROM x WHERE length(arr[i]) >= 6), " +
      "firsts AS (SELECT url, w, min(i) AS fi FROM tw GROUP BY url, w), " +
      "top5 AS (SELECT url, string_agg(w, ',' ORDER BY fi) AS tags FROM " +
      "(SELECT url, w, fi, row_number() OVER (PARTITION BY url ORDER BY fi) AS rn FROM firsts) WHERE rn <= 5 GROUP BY url), " +
      "pw AS (SELECT url, i, arr[i] AS w FROM x WHERE i >= 2 AND length(arr[i]) >= 4 AND regexp_matches(arr[i], '^\\p{Lu}')), " +
      "ppl AS (SELECT url, string_agg(w, ',' ORDER BY i) AS people FROM " +
      "(SELECT url, w, i, row_number() OVER (PARTITION BY url ORDER BY i) AS rn FROM pw) WHERE rn <= 3 GROUP BY url) " +
      "SELECT c.url, " +
      "CASE WHEN strpos(content, '.') > 0 THEN substr(content, 1, strpos(content, '.')) ELSE content END AS summary, " +
      "coalesce(t5.tags, '') AS tags, coalesce(ppl.people, '') AS people, " +
      "CASE WHEN contains(c.url, '/docs/') THEN 'docs' WHEN contains(c.url, '/news/') THEN 'article' " +
      "WHEN contains(c.url, '/blog/') THEN '' ELSE 'unknown' END AS content_type " +
      "FROM c LEFT JOIN top5 t5 USING (url) LEFT JOIN ppl USING (url) ORDER BY c.url"

  /** Embed.chunkText(size=64, overlap=8) replayed as a recursive CTE over
    * the documents table (a driver table — no dump needed): whitespace
    * normalization, the ±20% break-point window's word-boundary branch
    * (this corpus has no sentence-boundary punctuation, so the sentence
    * branch is structurally dead — `chunk_fixture` gates it), JS-slice
    * empty-chunk creep, and the overlap + space-snap restart. One
    * recursion row per chunk attempt; emitted chunk index counts only
    * non-empty chunks, exactly the Scala zipWithIndex. */
  def chunkDocs: String = {
    val sizeChars = 64 * 4
    val overlapChars = 8 * 4
    val maxIn = graft.embed.Embed.DefaultMaxInputLength
    // per-state computed step (0-based indexes like the Scala):
    //   te   = min(start + 256, n)
    //   wb0  = lastIndexOf(' ', te)            (only meaningful when te < n)
    //   ss   = max(0, te - floor(te*0.2))      (search window start)
    //   endi = te < n ? (wb0 > ss ? wb0 + 1 : te) : te
    //   chunk = endi <= start ? '' : trim(substr(start..endi))
    val step =
      "SELECT doc_id, t, n, start, emitted, " +
        s"least(start + $sizeChars, n) AS te FROM rec"
    val step2 =
      "SELECT *, CASE WHEN te < n THEN " +
        "(CASE WHEN strpos(reverse(substr(t, 1, te + 1)), ' ') = 0 THEN -1 " +
        "ELSE te + 1 - strpos(reverse(substr(t, 1, te + 1)), ' ') END) ELSE -1 END AS wb0, " +
        "greatest(0, te - CAST(floor(te * 0.2) AS INT)) AS ss FROM (" + step + ")"
    val step3 =
      "SELECT *, CASE WHEN te < n THEN (CASE WHEN wb0 > ss THEN wb0 + 1 ELSE te END) ELSE te END AS endi " +
        "FROM (" + step2 + ")"
    val step4 =
      "SELECT *, CASE WHEN endi <= start THEN '' ELSE trim(substr(t, start + 1, endi - start)) END AS chunk, " +
        "endi >= n AS done, " +
        s"greatest(endi - $overlapChars, start + 1) AS ns0 FROM (" + step3 + ")"
    val step5 =
      "SELECT *, CASE WHEN strpos(substr(t, ns0 + 1), ' ') = 0 THEN -1 " +
        "ELSE ns0 + strpos(substr(t, ns0 + 1), ' ') - 1 END AS si0 FROM (" + step4 + ")"
    val stepAll =
      "SELECT *, CASE WHEN si0 <> -1 AND si0 < ns0 + " + overlapChars +
        " THEN si0 + 1 ELSE ns0 END AS next_start FROM (" + step5 + ")"
    "WITH RECURSIVE nrm AS (SELECT doc_id, " +
      s"trim(regexp_replace(substr(coalesce(text, ''), 1, $maxIn), '\\s+', ' ', 'g')) AS t FROM documents), " +
      "sized AS (SELECT doc_id, t, length(t) AS n, CAST(ceil(length(t) / 4.0) AS INT) AS total_tokens FROM nrm), " +
      "single AS (SELECT doc_id, 0 AS chunk_idx, t AS chunk_text, 0 AS start_index, n AS end_index, total_tokens AS tokens " +
      "FROM sized WHERE n > 0 AND total_tokens <= 64), " +
      "rec AS (" +
      "SELECT doc_id, t, n, 0 AS start, 0 AS emitted FROM sized WHERE total_tokens > 64 " +
      "UNION ALL " +
      "SELECT doc_id, t, n, next_start AS start, emitted + CASE WHEN chunk <> '' THEN 1 ELSE 0 END AS emitted " +
      "FROM (" + stepAll + ") WHERE NOT done AND next_start < n), " +
      "emitted_chunks AS (SELECT doc_id, emitted AS chunk_idx, chunk AS chunk_text, " +
      "start AS start_index, endi AS end_index, CAST(ceil(length(chunk) / 4.0) AS INT) AS tokens " +
      "FROM (" + stepAll + ") WHERE chunk <> '') " +
      "SELECT * FROM single UNION ALL SELECT * FROM emitted_chunks " +
      "ORDER BY doc_id, chunk_idx"
  }

  // ---- fingerprint_pages: Karp–Rabin winnowing replay in u64 SQL ----

  private val U64 = BigInt(1) << 64

  /** `(a*b) mod 2^64` over nonnegative HUGEINT expressions, staying inside
    * HUGEINT range (a plain u64×u64 product can reach 2^128 and overflow
    * int128): split a into 32-bit halves — a·b ≡ al·b + ((ah·bl mod 2^32)
    * · 2^32) (mod 2^64), every intermediate < 2^97. All power-of-two
    * mod/div run as mask/shift: DuckDB executes `%`/`//` on int128 as real
    * division, which measured ~17× slower than `&`/`>>` over the same
    * 9.7M-row mix chain. */
  private def mulmod(a: String, b: String): String =
    s"(((($a) & 4294967295) * ($b) + " +
      s"((((($a) >> 32) * (($b) & 4294967295)) & 4294967295) << 32)) " +
      "& 18446744073709551615)"

  /** The whole [[graft.ops.TextOps.fingerprint]] algorithm replayed by
    * DuckDB over the normalized-extraction dump — same UTF-16 code units
    * (BMP codepoints pass through; astral ones expand to surrogate
    * pairs), same base-1000003 rolling window hash as a weighted 16-term
    * sum (the rolling form's loop invariant, so no sequential recursion
    * is needed), same mix64 finalizer, same signed sort → distinct →
    * take-8 sampling, and the same fnv64 fallback for sub-window texts
    * (that one IS sequential — xor doesn't distribute over the multiply —
    * so it replays as a recursive CTE; sub-window docs are rare).
    * All 64-bit wraparound arithmetic runs on HUGEINT mod 2^64 via
    * [[mulmod]]; xor/shift-right work directly on nonnegative HUGEINTs. */
  def fingerprintPages(outDir: String): String = {
    val B = 1000003L
    val pows = Iterator.iterate(BigInt(1))(p => (p * B) % U64).take(16).toSeq
    val powsVals = pows.zipWithIndex
      .map { case (p, j) => s"($j, CAST('$p' AS HUGEINT))" }.mkString(", ")
    // splitmix64 finalizer constants + fnv64 basis/prime, as u64 decimals
    val C0 = "11400714819323198485" // 0x9e3779b97f4a7c15
    val C1 = "13787848793156543929" // 0xbf58476d1ce4e5b9
    val C2 = "10723151780598845931" // 0x94d049bb133111eb
    val toSigned = (u: String) =>
      s"CASE WHEN $u >= 9223372036854775808 THEN $u - 18446744073709551616 ELSE $u END"
    s"""WITH RECURSIVE
src AS (SELECT url, coalesce(normalized_text, '') AS t FROM ${dump(outDir, "extract_normalized")}),
cps AS (
  SELECT url,
    unnest(generate_series(1, len(cl))) AS i,
    unnest(list_transform(cl, x -> unicode(x))) AS cp
  FROM (SELECT url, regexp_extract_all(t, '(?s).') AS cl FROM src)
),
units AS (
  SELECT url, i,
    CASE WHEN cp < 65536 THEN [CAST(cp AS HUGEINT)]
         ELSE [CAST(55296 + ((cp - 65536) >> 10) AS HUGEINT),
               CAST(56320 + ((cp - 65536) & 1023) AS HUGEINT)] END AS us
  FROM cps
),
flat AS (
  SELECT url,
    row_number() OVER (PARTITION BY url ORDER BY i, j) AS p,
    us[CAST(j AS INT)] AS c
  FROM units, unnest(generate_series(1, len(us))) AS g2(j)
),
lens AS (SELECT s.url, coalesce(max(f.p), 0) AS n
         FROM src s LEFT JOIN flat f USING (url) GROUP BY s.url),
pows(j, bp) AS (VALUES $powsVals),
terms AS (
  SELECT f.url, f.p - 15 + pw.j AS w,
    ${mulmod("f.c", "pw.bp")} AS term
  FROM flat f CROSS JOIN pows pw
),
wh AS (
  SELECT t.url, t.w, sum(t.term) & 18446744073709551615 AS h
  FROM terms t JOIN lens l ON t.url = l.url
  WHERE t.w >= 1 AND t.w <= l.n - 15 AND l.n >= 16
  GROUP BY t.url, t.w
),
s1 AS (SELECT url, (h + $C0) & 18446744073709551615 AS z FROM wh),
s2 AS (SELECT url, ${mulmod("xor(z, z >> 30)", C1)} AS z FROM s1),
s3 AS (SELECT url, ${mulmod("xor(z, z >> 27)", C2)} AS z FROM s2),
s4 AS (SELECT url, xor(z, z >> 31) AS mu FROM s3),
mixed AS (SELECT url, CAST(${toSigned("mu")} AS BIGINT) AS m FROM s4),
longdocs AS (
  SELECT url, array_to_string((list(DISTINCT m ORDER BY m))[1:8], ',') AS fingerprint
  FROM mixed GROUP BY url
),
shorts AS (SELECT url, n FROM lens WHERE n < 16),
fnv AS (
  SELECT url, CAST(0 AS HUGEINT) AS p, CAST($FnvBasis AS HUGEINT) AS h, n
  FROM shorts
  UNION ALL
  SELECT r.url, r.p + 1,
    ${mulmod("xor(r.h, f.c)", FnvPrime)} AS h, r.n
  FROM fnv r JOIN flat f ON f.url = r.url AND f.p = r.p + 1
  WHERE r.p < r.n
),
shortfp AS (
  SELECT url, CAST(CAST(${toSigned("h")} AS BIGINT) AS VARCHAR) AS fingerprint
  FROM fnv WHERE p = n
)
SELECT url, fingerprint FROM longdocs
UNION ALL
SELECT url, fingerprint FROM shortfp
ORDER BY url"""
  }

  // ---- LSH near-dup chain: full cross-engine replay from the text ----

  /** splitmix64 finalizer as a staged CTE chain — `name` ends up a CTE with
    * columns `carry` + `mix` = mix64(`zexpr` over `prev`). Staged because a
    * nested textual expansion triples per [[mulmod]] level (3^3 copies of
    * the base expression), which DuckDB does not always CSE away. */
  private def mixStages(name: String, prev: String, carry: Seq[String],
                        zexpr: String): String = {
    val C0 = "11400714819323198485"
    val C1 = "13787848793156543929"
    val C2 = "10723151780598845931"
    val c = carry.mkString(", ")
    s"""${name}_a AS (SELECT $c, (($zexpr) + $C0) & 18446744073709551615 AS z FROM $prev),
${name}_b AS (SELECT $c, xor(z, z >> 30) AS x FROM ${name}_a),
${name}_c AS (SELECT $c, ${mulmod("x", C1)} AS z FROM ${name}_b),
${name}_d AS (SELECT $c, xor(z, z >> 27) AS x FROM ${name}_c),
${name}_e AS (SELECT $c, ${mulmod("x", C2)} AS z FROM ${name}_d),
$name AS (SELECT $c, xor(z, z >> 31) AS mix FROM ${name}_e)"""
  }

  private def toSignedBigint(u: String): String =
    s"CAST(CASE WHEN ($u) >= 9223372036854775808 THEN ($u) - 18446744073709551616 ELSE ($u) END AS BIGINT)"

  /** FNV-1a 64 basis / prime as u64 decimals — shared by every replay. */
  private val FnvBasis = "14695981039346656037" // 0xcbf29ce484222325
  private val FnvPrime = "1099511628211"        // 0x100000001b3

  /** fnv64 of a VARCHAR expression as a vectorized per-row fold over its
    * UTF-16 code units (BMP codepoints pass through; astral ones expand to
    * surrogate pairs — matching `String.charAt`). FNV-1a is sequential by
    * construction (xor does not distribute over the multiply), but
    * per-STRING, not per-corpus: `list_reduce` folds in order without a
    * recursive CTE. The ONE definition behind the shingle and word hashes. */
  private def fnv64Fold(strExpr: String): String =
    s"""list_reduce(
    [CAST($FnvBasis AS HUGEINT)] ||
    flatten(list_transform(regexp_extract_all($strExpr, '(?s).'),
      ch -> CASE WHEN unicode(ch) < 65536 THEN [CAST(unicode(ch) AS HUGEINT)]
                 ELSE [CAST(55296 + ((unicode(ch) - 65536) >> 10) AS HUGEINT),
                       CAST(56320 + ((unicode(ch) - 65536) & 1023) AS HUGEINT)] END)),
    (h, c) -> ${mulmod("xor(h, c)", FnvPrime)})"""

  /** Shared CTE text for the minhash/jaccard replays: normalized text →
    * lowercase → `[^\p{L}\p{N}]+` word split → 3-gram shingles → fnv64 per
    * DISTINCT shingle (a vectorized `list_reduce` fold over UTF-16 units —
    * FNV-1a is sequential by construction, but per-string, not per-corpus)
    * → per-url shingle-hash set (`docsh`) → 64-slot minhash signature
    * (seed_j = golden·(j+1), slot = SIGNED min of mix64(base ^ seed_j))
    * as one list per url (`sigl`) → 16 band keys (4-slot mix chains) →
    * ≤64-member buckets → candidate pairs (`pairs`) → slot-agreement
    * estimate (`est`). Everything re-derives from the TEXT — the only
    * thing shared with the Spark side is the published algorithm and its
    * constants, so agreement checks the whole chain cross-engine. */
  private def lshPrefix(outDir: String): String =
    s"src AS (SELECT url, coalesce(normalized_text, '') AS t FROM ${dump(outDir, "extract_normalized")}),\n" +
      lshCore(includeEmptyDocs = true, estRound = true)

  /** CTE chain replaying the shingle → minhash → band → candidate-pair →
    * estimate front half over a CTE `src`(url, t). The lowercase happens
    * HERE (in `wl`), mirroring `TextOps.shingles`' own
    * `toLowerCase(Locale.ROOT)` — callers pass raw text.
    *
    * @param includeEmptyDocs `true` bands EVERY doc: an empty shingle set
    *   gets the all-sentinel signature, so all empty docs pair with each
    *   other at Jaccard 1.0. The `dedup_*_pages` oracles ([[lshPrefix]])
    *   replay this rule. `false` replays [[graft.ops.DedupOps.explodeBands]],
    *   which emits no bands for an empty shingle set; the curation oracle
    *   uses it. The Spark side runs `explodeBands` for every family. The two
    *   rules still agree on PagesGen corpora, because every page has at
    *   least three paragraphs: 0 pages have an empty shingle set at sf0.001,
    *   sf0.01 and sf0.1 (400, 2000 and 20000 pages) and in the 600-page
    *   survivor fixture, so the extra rule never fires there. Both stay
    *   because the oracleSql strings do not change.
    * @param estRound `true` rounds the estimate to 5 decimals, as the
    *   `dedup_minhash_pages` output does; at the 0.5 and 0.55 floors the
    *   rounded and raw estimates (multiples of 1/64) agree. `false` keeps it
    *   raw, as `DedupOps.verifyPairs` compares it (the curation oracle).
    * @param materialized mark the multiply-referenced CTEs (docsh, sigl,
    *   est) MATERIALIZED. DuckDB inlines plain CTEs, so in a DEEP
    *   composition (the curation replay) every reference re-executes the
    *   whole upstream chain — measured 281 s vs 9 s at sf0.001. The
    *   shallow standalone oracles stay un-materialized (their re-execution
    *   is bounded and the optimizer sees through plain CTEs better). */
  private def lshCore(includeEmptyDocs: Boolean, estRound: Boolean,
                      materialized: Boolean = false): String = {
    val mat = if (materialized) "MATERIALIZED " else ""
    val gold = BigInt("9e3779b97f4a7c15", 16)
    val seedsVals = (0 until 64)
      .map(j => s"($j, CAST('${(gold * (j + 1)) % U64}' AS HUGEINT))")
      .mkString(", ")
    val siglCte =
      if (includeEmptyDocs)
        s"""sigl AS $mat(
  SELECT s.url,
    coalesce(m.sl, list_transform(generate_series(1, 64), i -> 9223372036854775807)) AS sl
  FROM (SELECT url FROM src) s
  LEFT JOIN (SELECT url, list(slot ORDER BY j) AS sl FROM minsig GROUP BY url) m
    ON m.url = s.url
)"""
      else
        s"sigl AS $mat(SELECT url, list(slot ORDER BY j) AS sl FROM minsig GROUP BY url)"
    val estExpr =
      if (estRound)
        """floor((list_sum(list_transform(generate_series(1, 64),
      i -> CASE WHEN sa.sl[i] = sb.sl[i] THEN 1 ELSE 0 END)) / 64.0) * 100000 + 0.5) / 100000.0"""
      else
        """list_sum(list_transform(generate_series(1, 64),
      i -> CASE WHEN sa.sl[i] = sb.sl[i] THEN 1 ELSE 0 END)) / 64.0"""
    s"""wl AS (SELECT url, list_filter(regexp_split_to_array(lower(t), '[^\\p{L}\\p{N}]+'), x -> x <> '') AS ws FROM src),
shl AS (
  SELECT url, CASE
    WHEN len(ws) = 0 THEN []
    WHEN len(ws) < 3 THEN [array_to_string(ws, ' ')]
    ELSE list_transform(generate_series(1, len(ws) - 2),
                        i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2])
  END AS sl FROM wl
),
shex AS (SELECT DISTINCT url, unnest(sl) AS s FROM shl),
strs AS (SELECT DISTINCT s FROM shex),
fnvs AS (
  SELECT s, ${fnv64Fold("s")} AS base
  FROM strs
),
docsh AS ${mat}(SELECT DISTINCT x.url, f.base AS sh FROM shex x JOIN fnvs f ON f.s = x.s),
seeds(j, sd) AS (VALUES $seedsVals),
mh0 AS (SELECT d.url, sd.j, xor(d.sh, sd.sd) AS z0 FROM docsh d CROSS JOIN seeds sd),
${mixStages("mh", "mh0", Seq("url", "j"), "z0")},
minsig AS (SELECT url, j, min(${toSignedBigint("mix")}) AS slot FROM mh GROUP BY url, j),
$siglCte,
slu AS (
  SELECT url, list_transform(sl, v -> CAST(CASE WHEN v < 0
      THEN v + 18446744073709551616 ELSE v END AS HUGEINT)) AS su
  FROM sigl
),
bexp AS (
  SELECT url, CAST(b AS INT) AS b, su
  FROM slu, unnest(generate_series(0, 15)) AS g(b)
),
bz1 AS (SELECT url, b, su, xor(xor(CAST($FnvBasis AS HUGEINT), CAST(b AS HUGEINT)), su[4*b + 1]) AS z0 FROM bexp),
${mixStages("bm1", "bz1", Seq("url", "b", "su"), "z0")},
bz2 AS (SELECT url, b, su, xor(mix, su[4*b + 2]) AS z0 FROM bm1),
${mixStages("bm2", "bz2", Seq("url", "b", "su"), "z0")},
bz3 AS (SELECT url, b, su, xor(mix, su[4*b + 3]) AS z0 FROM bm2),
${mixStages("bm3", "bz3", Seq("url", "b", "su"), "z0")},
bz4 AS (SELECT url, b, su, xor(mix, su[4*b + 4]) AS z0 FROM bm3),
${mixStages("bm4", "bz4", Seq("url", "b"), "z0")},
bands AS (SELECT url, b AS band_idx, mix AS band_key FROM bm4),
buckets AS (
  SELECT band_idx, band_key, list(url) AS us
  FROM bands GROUP BY band_idx, band_key HAVING count(*) <= 64
),
pairs AS (
  SELECT DISTINCT t1.a AS url_a, t2.b AS url_b
  FROM buckets, unnest(us) AS t1(a), unnest(us) AS t2(b)
  WHERE t1.a < t2.b
),
est AS $mat(
  SELECT p.url_a, p.url_b,
    $estExpr AS est_jaccard
  FROM pairs p
  JOIN sigl sa ON sa.url = p.url_a
  JOIN sigl sb ON sb.url = p.url_b
)"""
  }

  /** Banded-minhash candidate pairs with signature-agreement estimate,
    * re-derived from the text: the `dedup_minhash_pages` oracle. */
  def minhashDedupPages(outDir: String): String =
    "WITH " + lshPrefix(outDir) +
      " SELECT url_a, url_b, est_jaccard FROM est WHERE est_jaccard >= 0.5 ORDER BY url_a, url_b"

  /** Estimate-prefiltered exact shingle-set Jaccard (intersection over the
    * per-url distinct fnv64 hash sets, `list_intersect`): the
    * `dedup_jaccard_pages` oracle. */
  def jaccardDedupPages(outDir: String): String =
    "WITH " + lshPrefix(outDir) + """,
docshl AS (SELECT url, list(sh) AS hs FROM docsh GROUP BY url),
jac0 AS (
  SELECT e.url_a, e.url_b,
    len(list_intersect(coalesce(ha.hs, []), coalesce(hb.hs, []))) AS inter,
    coalesce(len(ha.hs), 0) AS na, coalesce(len(hb.hs), 0) AS nb
  FROM est e
  LEFT JOIN docshl ha ON ha.url = e.url_a
  LEFT JOIN docshl hb ON hb.url = e.url_b
  WHERE e.est_jaccard >= 0.55
),
jac AS (
  SELECT url_a, url_b,
    CASE WHEN na + nb = 0 THEN 1.0
         ELSE floor((CAST(inter AS DOUBLE) / (na + nb - inter)) * 100000 + 0.5) / 100000.0
    END AS jaccard
  FROM jac0
)
SELECT url_a, url_b, jaccard FROM jac WHERE jaccard >= 0.8 ORDER BY url_a, url_b"""

  /** The whole simhash near-dup chain replayed from the text: per-word
    * mix64(fnv64(w)) features over word INSTANCES (duplicates vote —
    * matching [[graft.ops.TextOps.simHash]]'s foreach), 64 per-bit vote
    * sums in ONE aggregation pass (bit b set iff 2·setcount > nWords, no
    * 64-way row expansion), wordless docs hash to 0, then the same
    * 16-bit-chunk LSH → ≤64 bucket cap → candidate pairs → hamming ≤ 3
    * verify as `dedup_simhash_pages`. */
  def simhashDedupPages(outDir: String): String = {
    val bitSums = (0 until 64)
      .map(b => s"sum(CAST((wh.h >> $b) & 1 AS BIGINT)) AS s$b")
      .mkString(",\n    ")
    val simTerms = (0 until 64)
      .map(b => s"CASE WHEN 2*s$b > n THEN CAST('${BigInt(1) << b}' AS HUGEINT) ELSE CAST(0 AS HUGEINT) END")
      .mkString(" + ")
    s"""WITH
src AS (SELECT url, lower(coalesce(normalized_text, '')) AS t FROM ${dump(outDir, "extract_normalized")}),
wi AS (
  SELECT url, unnest(list_filter(regexp_split_to_array(t, '[^\\p{L}\\p{N}]+'), x -> x <> '')) AS w
  FROM src
),
wstr AS (SELECT DISTINCT w FROM wi),
wfnv AS (
  SELECT w, ${fnv64Fold("w")} AS z0
  FROM wstr
),
${mixStages("wmix", "wfnv", Seq("w"), "z0")},
wh AS (SELECT i.url, m.mix AS h FROM wi i JOIN wmix m ON m.w = i.w),
votes AS (
  SELECT url, count(*) AS n,
    $bitSums
  FROM wh GROUP BY url
),
sim AS (
  SELECT s.url, coalesce(v.sh, CAST(0 AS HUGEINT)) AS sh
  FROM src s LEFT JOIN (SELECT url, ($simTerms) AS sh FROM votes) v ON v.url = s.url
),
chunks AS (
  SELECT url, CAST(i AS INT) AS chunk_idx,
    CAST((sh >> (16 * i)) & 65535 AS BIGINT) AS chunk_key, sh
  FROM sim, unnest(generate_series(0, 3)) AS g(i)
),
buckets AS (
  SELECT chunk_idx, chunk_key, list(url) AS us
  FROM chunks GROUP BY chunk_idx, chunk_key HAVING count(*) <= 64
),
pairs AS (
  SELECT DISTINCT t1.a AS url_a, t2.b AS url_b
  FROM buckets, unnest(us) AS t1(a), unnest(us) AS t2(b)
  WHERE t1.a < t2.b
),
ham AS (
  SELECT p.url_a, p.url_b,
    bit_count(xor(${toSignedBigint("sa.sh")}, ${toSignedBigint("sb.sh")})) AS hamming
  FROM pairs p
  JOIN sim sa ON sa.url = p.url_a
  JOIN sim sb ON sb.url = p.url_b
)
SELECT url_a, url_b, CAST(hamming AS INT) AS hamming FROM ham WHERE hamming <= 3 ORDER BY url_a, url_b"""
  }

  /** Connected-component survivor selection replayed over the VERIFIED
    * pair dump — LAYERED, not circular: the `dedup_jaccard_pages` rows it
    * reads are themselves independently re-derived from the text by
    * [[jaccardDedupPages]], and this oracle independently re-runs the
    * transitive closure + min-label + survivor logic over them (an exact
    * recursive closure, which the tiny verified-pair relation makes
    * cheap — the Spark side's bounded pointer-jumping converges to the
    * same fixpoint on any real cluster diameter). */
  def survivorsDedupPages(outDir: String): String =
    survivorsOver(outDir, "dedup_jaccard_pages", "url_a", "url_b", "url")

  /** The ENTIRE [[graft.pipeline.Curate.curate]] ledger replayed from the
    * extraction dump — all four stages composed in one statement, each
    * stage the already-proven replay of its standalone oracle:
    *
    *  1. cross-document paragraph dedup (minDocFreq = 5, the `Config` the
    *     query passes) — the [[paraDedupPages]] rebuild, kept text in
    *     index order re-joined with `\n\n`;
    *  2. Gopher quality verdict on the CLEANED text — [[profileCtes]],
    *     reason string = the verdict's `mkString("+")`;
    *  3. exact dedup by `substring(sha256(text), 1, 32)` with the minimum
    *     id as keeper;
    *  4. near-dup over the survivors — [[lshCore]] with
    *     [[graft.ops.DedupOps]] semantics (empty-shingle docs emit no
    *     bands; estimate and Jaccard UNROUNDED, `DedupOps.verifyPairs`),
    *     then exact transitive closure + min-label.
    *
    * The drop relations are disjoint by construction (each stage filters
    * the previous stage's survivors), so the final left join assigns at
    * most one (stage, reason) per id — same as the Spark union. */
  def curationPages(outDir: String): String =
    s"""WITH RECURSIVE
pdbase AS (SELECT url, coalesce(normalized_text, '') AS pt FROM ${dump(outDir, "extract_normalized")}),
pdps AS (SELECT url, regexp_split_to_array(pt, '\\n{2,}') AS parr FROM pdbase),
pdix AS (SELECT url, parr, unnest(generate_series(1, len(parr))) AS idx FROM pdps),
pdsegs AS (SELECT url, idx, trim(parr[idx]) AS para FROM pdix WHERE trim(parr[idx]) <> ''),
pdboiler AS (SELECT para FROM pdsegs GROUP BY para HAVING count(DISTINCT url) >= 5),
pdmarked AS (SELECT s.url, s.idx, s.para, b.para IS NOT NULL AS dropped
             FROM pdsegs s LEFT JOIN pdboiler b USING (para)),
pdagg AS (SELECT url,
            coalesce(string_agg(CASE WHEN NOT dropped THEN para END, chr(10) || chr(10) ORDER BY idx), '') AS txt,
            sum(CASE WHEN dropped THEN 1 ELSE 0 END) AS paras_removed
          FROM pdmarked GROUP BY url),
lsrc AS MATERIALIZED (SELECT b.url, coalesce(a.txt, '') AS t, coalesce(a.paras_removed, 0) AS paras_removed
         FROM pdbase b LEFT JOIN pdagg a USING (url)),
${profileCtes("SELECT url, t FROM lsrc")},
q AS MATERIALIZED (SELECT l.url, l.t, v.reasons FROM lsrc l JOIN v USING (url)),
hx AS (SELECT url, t, substring(sha256(t), 1, 32) AS hash FROM q WHERE reasons = ''),
keepers AS (SELECT hash, min(url) AS keeper FROM hx GROUP BY hash),
wk AS MATERIALIZED (SELECT h.url, h.t, k.keeper FROM hx h JOIN keepers k USING (hash)),
src AS MATERIALIZED (SELECT url, t FROM wk WHERE url = keeper),
${lshCore(includeEmptyDocs = false, estRound = false, materialized = true)},
docshl AS (SELECT url, list(sh) AS hs FROM docsh GROUP BY url),
cver AS MATERIALIZED (
  SELECT url_a, url_b FROM (
    SELECT e.url_a, e.url_b,
      len(list_intersect(ha.hs, hb.hs)) AS inter,
      len(ha.hs) AS na, len(hb.hs) AS nb
    FROM est e
    JOIN docshl ha ON ha.url = e.url_a
    JOIN docshl hb ON hb.url = e.url_b
    WHERE e.est_jaccard >= 0.55
  ) WHERE CAST(inter AS DOUBLE) / (na + nb - inter) >= 0.8
),
cedges AS (SELECT url_a AS a, url_b AS b FROM cver UNION SELECT url_b, url_a FROM cver),
creach AS (
  SELECT a, b FROM cedges
  UNION
  SELECT r.a, e.b FROM creach r JOIN cedges e ON e.a = r.b
),
clabels AS MATERIALIZED (SELECT a AS url, least(a, min(b)) AS lbl FROM creach GROUP BY a),
drops AS (
  SELECT url, 'quality' AS stage, reasons AS reason FROM q WHERE reasons <> ''
  UNION ALL
  SELECT url, 'exact_dup' AS stage, keeper AS reason FROM wk WHERE url <> keeper
  UNION ALL
  SELECT url, 'near_dup' AS stage, lbl AS reason FROM clabels WHERE url <> lbl
)
SELECT l.url AS id, d.stage IS NULL AS kept, coalesce(d.stage, '') AS stage,
  coalesce(d.reason, '') AS reason, CAST(l.paras_removed AS BIGINT) AS paras_removed
FROM lsrc l LEFT JOIN drops d ON d.url = l.url ORDER BY id"""

  // ---- embedding-LSH family: hyperplane replay in exact double math ----

  /** CTE chain replaying [[graft.ops.VectorOps.hyperplaneProjection]] /
    * `cosineLshBucket` over the `embeddings` table: the pseudo-random
    * hyperplane components are mix64-derived (seed = `(t·1024+b) << 32 ^ i
    * ^ 0x5deece66d`, component = `(h >>> 11)·2^-53·2 − 1` — every step
    * exact in IEEE double), and the projection accumulates `v(i)·comp` in
    * INDEX ORDER via an ordered `list_reduce` fold, so the doubles match
    * the Scala loop bit-for-bit (a SQL `sum()` would not — FP addition is
    * not associative). `adaptiveNBits` replays as
    * `least(24, greatest(4, ceil(ln(n/target)/ln(2))))`. Emits
    * `eb(vec_id, embedding)`, `proj(vec_id, t, b, s)` and
    * `bkt(vec_id, t, cell)`. */
  private def embLshCtes(targetBucket: Int, nTables: Int): String =
    s"""eb AS (SELECT vec_id, embedding FROM embeddings),
-- adaptiveNBits in INTEGER form, matching Ann.adaptiveNBits exactly:
-- smallest b with 2^b >= ceil(n/target), clamped — no libm log on
-- either side (see the Scala scaladoc for why float log is unsafe here)
nb0 AS (SELECT greatest(1, (count(*) + $targetBucket - 1) // $targetBucket) AS m,
        max(len(embedding)) AS dim FROM eb),
nb AS (SELECT CAST(least(24, greatest(4,
         (SELECT min(b) FROM (SELECT unnest(generate_series(0, 24)) AS b)
          WHERE (CAST(1 AS BIGINT) << b) >= nb0.m OR b = 24))) AS INT) AS nbits,
       dim FROM nb0),
hp0 AS (
  SELECT t, b, i,
    xor(xor(CAST((t * 1024 + b) AS HUGEINT) << 32, CAST(i AS HUGEINT)),
        CAST(25214903917 AS HUGEINT)) AS z0
  FROM nb,
       unnest(generate_series(0, ${nTables - 1})) AS gt(t),
       unnest(generate_series(0, nbits - 1)) AS gb(b),
       unnest(generate_series(0, CAST(dim AS INT) - 1)) AS gi(i)
),
${mixStages("hp", "hp0", Seq("t", "b", "i"), "z0")},
comps AS (
  SELECT t, b,
    list(CAST(mix >> 11 AS DOUBLE) * 1.1102230246251565e-16 * 2 - 1 ORDER BY i) AS cl
  FROM hp GROUP BY t, b
),
proj AS (
  SELECT e.vec_id, c.t, c.b,
    list_reduce([CAST(0 AS DOUBLE)] ||
      list_transform(list_zip(e.embedding, c.cl), p -> CAST(p[1] AS DOUBLE) * p[2]),
      (a, x) -> a + x) AS s
  FROM eb e CROSS JOIN comps c
),
bkt AS (
  SELECT vec_id, t, CAST(sum(CASE WHEN s >= 0 THEN 1 << b ELSE 0 END) AS INT) AS cell
  FROM proj GROUP BY vec_id, t
)"""

  /** Exact cosine + 5-decimal rounding — the same expression the green
    * `dedup_embed_pages` oracle already proved equivalent to the native
    * `cosine_sim5`. */
  private def cos5(a: String, b: String): String =
    s"round(list_cosine_similarity($a::DOUBLE[], $b::DOUBLE[]), 5)"

  /** `dedup_embed_lsh`: 8-table hyperplane bucketing (targetBucket 64, no
    * mega-bucket cap — `maxBucket = Int.MaxValue` on the Spark side),
    * cross-table pair dedupe, exact cosine ≥ 0.35 verify. */
  def dedupEmbedLsh: String =
    "WITH " + embLshCtes(targetBucket = 64, nTables = 8) + """,
buckets AS (SELECT t, cell, list(vec_id) AS vs FROM bkt GROUP BY t, cell),
pairs AS (
  SELECT DISTINCT t1.a AS id_a, t2.b2 AS id_b
  FROM buckets, unnest(vs) AS t1(a), unnest(vs) AS t2(b2)
  WHERE t1.a < t2.b2
),
ver AS (
  SELECT p.id_a, p.id_b, """ + cos5("ea.embedding", "eb2.embedding") + """ AS cos
  FROM pairs p
  JOIN eb ea ON ea.vec_id = p.id_a
  JOIN eb eb2 ON eb2.vec_id = p.id_b
)
SELECT id_a, id_b, cos FROM ver WHERE cos >= 0.35 ORDER BY id_a, id_b"""

  /** `embed_knn_lsh`: single-table bucketing (targetBucket 128), queries =
    * vec_id < 5, exact cosine re-rank inside the shared bucket, top-5 by
    * (cos desc, vec_id). */
  def embedKnnLsh: String =
    "WITH " + embLshCtes(targetBucket = 128, nTables = 1) + """,
q AS (SELECT b.vec_id AS query_id, e.embedding AS q_emb, b.cell
      FROM bkt b JOIN eb e USING (vec_id) WHERE b.vec_id < 5),
cands AS (
  SELECT q.query_id, b.vec_id, """ + cos5("q.q_emb", "e.embedding") + """ AS cos
  FROM q JOIN bkt b USING (cell) JOIN eb e ON e.vec_id = b.vec_id
  WHERE q.query_id <> b.vec_id
),
rk AS (
  SELECT query_id, vec_id, cos,
    row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, vec_id) AS rank
  FROM cands
)
SELECT query_id, CAST(rank AS INT) AS rank, vec_id, cos
FROM rk WHERE rank <= 5 ORDER BY query_id, rank"""

  /** `embed_knn_multiprobe` (Lv et al.): own bucket + the 3 buckets at the
    * least-confident flipped bits — flip order = ascending (|projection|,
    * bit), EXACTLY the Scala `sortBy((m, i))` because the projections
    * themselves are bit-identical doubles. Candidates dedupe across
    * probes, then the same top-5 tail as `embed_knn_lsh` (the Spark side's
    * shared `scoreProbes`, whose `rank` is LONG). */
  def embedKnnMultiprobe: String =
    "WITH " + embLshCtes(targetBucket = 128, nTables = 1) + """,
flips AS (
  SELECT vec_id AS query_id, b,
    row_number() OVER (PARTITION BY vec_id ORDER BY abs(s), b) AS fr
  FROM proj WHERE vec_id < 5
),
probes AS (
  SELECT b.vec_id AS query_id, b.cell FROM bkt b WHERE b.vec_id < 5
  UNION ALL
  SELECT f.query_id, CAST(xor(b.cell, 1 << f.b) AS INT) AS cell
  FROM flips f JOIN bkt b ON b.vec_id = f.query_id
  WHERE f.fr <= 3
),
cands AS (
  SELECT DISTINCT p.query_id, b.vec_id
  FROM probes p JOIN bkt b USING (cell)
  WHERE p.query_id <> b.vec_id
),
scored AS (
  SELECT c.query_id, c.vec_id, """ + cos5("qe.embedding", "e.embedding") + """ AS cos
  FROM cands c
  JOIN eb qe ON qe.vec_id = c.query_id
  JOIN eb e ON e.vec_id = c.vec_id
),
rk AS (
  SELECT query_id, vec_id, cos,
    row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, vec_id) AS rank
  FROM scored
)
SELECT query_id, CAST(rank AS BIGINT) AS rank, vec_id, cos
FROM rk WHERE rank <= 5 ORDER BY query_id, rank"""

  /** Exact ordered-fold cosine between two FLOAT[] lists — the UNROUNDED
    * replay of [[graft.ops.VectorOps.cosine]] (index-order double
    * accumulation for dot and both norms, zero-norm → 0.0). Needed where
    * the Spark side COMPARES raw cosines (centroid assignment, probe
    * ranking): `list_cosine_similarity` only proved equivalent after
    * 5-decimal rounding. */
  private def cosExact(a: String, b: String): String = {
    def fold(pairs: String) =
      s"list_reduce([CAST(0 AS DOUBLE)] || " +
        s"list_transform($pairs, p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)), " +
        "(a, x) -> a + x)"
    val dot = fold(s"list_zip($a, $b)")
    val na = s"sqrt(${fold(s"list_zip($a, $a)")})"
    val nb = s"sqrt(${fold(s"list_zip($b, $b)")})"
    s"(CASE WHEN $na = 0 OR $nb = 0 THEN 0.0 ELSE ($dot) / ($na * $nb) END)"
  }

  /** One Lloyd iteration `cent_n` → `cent_{n+1}`: exact-cosine assignment
    * (strict `>` keeps the FIRST max → ties go to the lowest cell, which
    * `ORDER BY sim DESC, c` + rn=1 reproduces), per-(cell, dim) mean with
    * the addition folded in SAMPLE-INDEX ORDER, `.toFloat` as a FLOAT
    * cast, empty cells keeping their previous centroid. MATERIALIZED:
    * `cent_{n+1}` references `cent_n` twice, so plain CTEs would re-expand
    * 2^10 ways across the unrolled iterations. */
  private def lloydIteration(n: Int): String =
    s"""sim_$n AS (
  SELECT s.i, s.vec, c.c, ${cosExact("s.vec", "c.cvec")} AS sim
  FROM smp s CROSS JOIN cent_$n c
),
asg_$n AS MATERIALIZED (
  SELECT i, vec, c FROM (
    SELECT i, vec, c, row_number() OVER (PARTITION BY i ORDER BY sim DESC, c) AS rn
    FROM sim_$n
  ) WHERE rn = 1
),
el_$n AS (
  SELECT a.c, g.d, a.i, CAST(a.vec[CAST(g.d AS INT) + 1] AS DOUBLE) AS val
  FROM asg_$n a, unnest(generate_series(0, len(a.vec) - 1)) AS g(d)
),
mean_$n AS (
  SELECT c, d,
    CAST(list_reduce([CAST(0 AS DOUBLE)] || list(val ORDER BY i), (a, x) -> a + x)
         / count(*) AS FLOAT) AS mv
  FROM el_$n GROUP BY c, d
),
newc_$n AS (SELECT c, list(mv ORDER BY d) AS cvec FROM mean_$n GROUP BY c),
cent_${n + 1} AS MATERIALIZED (
  SELECT o.c, coalesce(n.cvec, o.cvec) AS cvec
  FROM cent_$n o LEFT JOIN newc_$n n USING (c)
)"""

  /** `embed_knn_ivf` / `embed_knn_ivf_table` (one SQL serves both — the
    * table path is pinned byte-identical to the in-memory path by
    * AnnIndexSpec, and both train on the sampleN lowest vec_ids): the
    * ENTIRE deterministic k-means replayed — seed pick by signed
    * mix64(42 ^ sampleIdx) rank, 10 unrolled Lloyd iterations in exact
    * double/float arithmetic, corpus assignment, 4-probe cell ranking by
    * unrounded cosine, then the shared top-5 scoring tail. */
  def embedKnnIvf: String = {
    val iters = 10
    s"""WITH
eb AS (SELECT vec_id, embedding FROM embeddings),
kk0 AS (SELECT CAST(least(4096, greatest(4, CAST(ceil(sqrt(count(*))) AS INT))) AS INT) AS k FROM eb),
kk AS (SELECT k, least(65536, greatest(k, k * 64)) AS samplen FROM kk0),
smp0 AS (
  SELECT row_number() OVER (ORDER BY vec_id) - 1 AS i, embedding AS vec
  FROM (SELECT vec_id, embedding FROM eb ORDER BY vec_id LIMIT (SELECT samplen FROM kk))
),
smp AS MATERIALIZED (SELECT i, vec FROM smp0),
sd0 AS (SELECT i, xor(CAST(42 AS HUGEINT), CAST(i AS HUGEINT)) AS z0 FROM smp),
${mixStages("sd", "sd0", Seq("i"), "z0")},
seedrank AS (
  SELECT i, row_number() OVER (ORDER BY ${toSignedBigint("mix")}) - 1 AS r
  FROM sd
),
cent_0 AS (
  SELECT CAST(sr.r AS INT) AS c, s.vec AS cvec
  FROM seedrank sr JOIN smp s USING (i)
  WHERE sr.r < (SELECT least(k, (SELECT count(*) FROM smp)) FROM kk)
),
${(0 until iters).map(lloydIteration).mkString(",")},
csim AS MATERIALIZED (
  SELECT e.vec_id, c.c, ${cosExact("e.embedding", "c.cvec")} AS sim
  FROM eb e CROSS JOIN cent_$iters c
),
cells AS MATERIALIZED (
  SELECT vec_id, c AS cell FROM (
    SELECT vec_id, c, row_number() OVER (PARTITION BY vec_id ORDER BY sim DESC, c) AS rn
    FROM csim
  ) WHERE rn = 1
),
probes AS (
  SELECT vec_id AS query_id, c AS cell FROM (
    SELECT e.vec_id, s.c, row_number() OVER (PARTITION BY e.vec_id ORDER BY s.sim DESC, s.c) AS pr
    FROM eb e JOIN csim s USING (vec_id)
    WHERE e.vec_id < 5
  ) WHERE pr <= 4
),
cands AS (
  SELECT DISTINCT p.query_id, x.vec_id
  FROM probes p JOIN cells x USING (cell)
  WHERE p.query_id <> x.vec_id
),
scored AS (
  SELECT c.query_id, c.vec_id, ${cos5("qe.embedding", "e.embedding")} AS cos
  FROM cands c
  JOIN eb qe ON qe.vec_id = c.query_id
  JOIN eb e ON e.vec_id = c.vec_id
),
rk AS (
  SELECT query_id, vec_id, cos,
    row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, vec_id) AS rank
  FROM scored
)
SELECT query_id, CAST(rank AS BIGINT) AS rank, vec_id, cos
FROM rk WHERE rank <= 5 ORDER BY query_id, rank"""
  }

  /** Exact transitive closure + min-label + survivor flags over a dumped
    * pair relation — the ONE closure replay behind both survivor oracles
    * (`idA`/`idB` name the dump's pair columns, `idOut` the output id). */
  private def survivorsOver(outDir: String, dumpName: String,
                            idA: String, idB: String, idOut: String): String =
    s"""WITH RECURSIVE
ver AS (SELECT $idA, $idB FROM ${dump(outDir, dumpName)}),
edges AS (SELECT $idA AS a, $idB AS b FROM ver UNION SELECT $idB, $idA FROM ver),
reach AS (
  SELECT a, b FROM edges
  UNION
  SELECT r.a, e.b FROM reach r JOIN edges e ON e.a = r.b
)
SELECT a AS $idOut, least(a, min(b)) AS cluster_rep, a = least(a, min(b)) AS is_survivor
FROM reach GROUP BY a ORDER BY $idOut"""

  /** `dedup_embed_survivors` — LAYERED over the independently re-derived
    * `dedup_embed_lsh` dump, same closure + min-label + survivor logic as
    * [[survivorsDedupPages]]. */
  def survivorsEmbedPages(outDir: String): String =
    survivorsOver(outDir, "dedup_embed_lsh", "id_a", "id_b", "vec_id")

  def all(outDir: String): Map[String, String] = Map(
    "dedup_exact_pages" -> dedupExactPages(outDir),
    "para_dedup_pages" -> paraDedupPages(outDir),
    "quality_pages" -> qualityPages(outDir),
    "langid_pages" -> langidPages(outDir),
    "repetition_pages" -> repetitionPages(outDir),
    "enhance_pages" -> enhancePages(outDir),
    "fingerprint_pages" -> fingerprintPages(outDir),
    "dedup_minhash_pages" -> minhashDedupPages(outDir),
    "dedup_jaccard_pages" -> jaccardDedupPages(outDir),
    "dedup_survivors_pages" -> survivorsDedupPages(outDir),
    "dedup_simhash_pages" -> simhashDedupPages(outDir),
    "curation_pages" -> curationPages(outDir),
    "dedup_embed_survivors" -> survivorsEmbedPages(outDir))
}
