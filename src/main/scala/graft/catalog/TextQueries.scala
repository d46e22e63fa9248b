package graft
package catalog

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.catalog.CatalogSupport._
import graft.functions.{TextClean, TextFunctions}
import graft.operators.{CorpusStats, Decontaminate, Packing, Repetition, Sampling, Search}
import graft.sources.EventsSource

/** Text and corpus statistics, lexical search, packing, repetition,
  * curation rules and decontamination. */
object TextQueries {

  lazy val specs: Seq[QuerySpec] = Seq(
    // ---- text analysis (extensions) -------------------------------------
    QuerySpec("q19_text_stats", ((s, dir) => {
      read(s, dir, "documents")
        .select(col("doc_id"),
          length(col("text")).as("text_len"),
          TextFunctions.tokenCount(col("text")).as("n_tokens"),
          (length(col("text")) -
            length(regexp_replace(col("text"), "[\\p{Punct}]", ""))).as("n_punct"))
        .orderBy(col("doc_id"))
    }),
      """SELECT doc_id, length(text) AS text_len,
         len(list_filter(regexp_split_to_array(trim(text), '\s+'),
             x -> len(x) > 0)) AS n_tokens,
         length(text) - length(regexp_replace(text, '[[:punct:]]', '', 'g')) AS n_punct
         FROM documents ORDER BY doc_id"""),

    // ---- PII rate report (detection side of the redaction pass) ---------
    // synthetic docs carry no PII, so deterministic addresses/URLs/IPs are
    // injected keyed on doc_id and the per-language PII rate is reported;
    // the oracle replays injection, the redaction chain and the counts
    QuerySpec("q213_pii_stats", ((s, dir) => {
      val docs = read(s, dir, "documents")
      val injected = docs.withColumn("text2", concat(col("text"),
        when(col("doc_id") % 7 === 0,
          concat(lit(" contact user"), col("doc_id"), lit("@example.com"))).otherwise(lit("")),
        when(col("doc_id") % 11 === 0,
          concat(lit(" see http://site"), col("doc_id"), lit(".example/page"))).otherwise(lit("")),
        when(col("doc_id") % 13 === 0,
          concat(lit(" from 10.0.0."), col("doc_id") % 255)).otherwise(lit(""))))
      injected
        .withColumn("p", graft.functions.TextClean.piiCounts(col("text2")))
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("p.n_urls")).as("n_urls"),
          sum(col("p.n_emails")).as("n_emails"),
          sum(col("p.n_ips")).as("n_ips"),
          sum(when(col("p.n_pii") > 0, 1L).otherwise(0L)).as("docs_with_pii"))
        .orderBy(col("lang"))
    }),
      // PII replay: identical injection, the SAME ordered redaction chain
      // (URL consumes the email inside it), placeholder-split counting
      // the redaction chain is GENERATED from TextClean.piiPatterns (one
      // definition for Spark and the oracle); sums CAST to BIGINT so the
      // oracle engine's integer-sum widening (HUGEINT in DuckDB) cannot
      // change the hashed value text
      s"""WITH inj AS (
           SELECT lang,
                  text
                  || CASE WHEN doc_id % 7 = 0
                          THEN ' contact user' || doc_id || '@example.com' ELSE '' END
                  || CASE WHEN doc_id % 11 = 0
                          THEN ' see http://site' || doc_id || '.example/page' ELSE '' END
                  || CASE WHEN doc_id % 13 = 0
                          THEN ' from 10.0.0.' || (doc_id % 255) ELSE '' END AS t
           FROM documents),
         red AS (
           SELECT lang,
                  ${graft.functions.TextClean.redactSqlChain("t")} AS r
           FROM inj),
         cnt AS (
           SELECT lang,
                  len(string_split(r, '<URL>')) - 1 AS u,
                  len(string_split(r, '<EMAIL>')) - 1 AS e,
                  len(string_split(r, '<IP>')) - 1 AS i,
                  len(string_split(r, '<PHONE>')) - 1 AS p
           FROM red)
         SELECT lang, count(*) AS n_docs,
                CAST(sum(u) AS BIGINT) AS n_urls,
                CAST(sum(e) AS BIGINT) AS n_emails,
                CAST(sum(i) AS BIGINT) AS n_ips,
                CAST(sum(CASE WHEN u + e + i + p > 0 THEN 1 ELSE 0 END) AS BIGINT)
                  AS docs_with_pii
         FROM cnt GROUP BY lang ORDER BY lang"""),

    // ---- BPE tokenizer merge training (CorpusStats) ---------------------
    // 6 merges over the [a-z]+ word-count table (hapax pruned): the
    // oracle replays every step in SQL — the weighted pair statistics,
    // the (count desc, left asc, right asc) argmax, and the literal
    // left-to-right non-overlapping replace — so the learned merge table
    // must agree row for row; integer counts, no floats anywhere
    QuerySpec("q215_bpe_train", ((s, dir) => {
      CorpusStats.bpeTrain(read(s, dir, "documents"), "text", merges = 6,
        minWordCount = 2L)
        .orderBy(col("step"))
    }),
      // BPE merge loop replayed as chained CTEs: v0 is the pruned
      // word-count table symbolized with pipe delimiters; each step
      // recomputes pair statistics from v{i-1}, takes the same total-order
      // argmax, applies the same literal replace. Integer counts and a
      // total argmax order — the replay is exact
      s"""WITH ${bpeCtes(merges = 6, minCount = 2L)}
         SELECT * FROM (
           ${(1 to 6).map(i =>
        s"""SELECT $i AS step, l AS "left", r AS "right", pc AS pair_count,
               mg AS merged FROM m$i""").mkString("\n           UNION ALL ")}
         ) u ORDER BY step"""),

    // ---- BPE fertility under the learned vocab (CorpusStats) ------------
    // train-then-apply composition: the 6 learned merges replayed over the
    // corpus as one codegen'd projection (no explode, no shuffle), rolled
    // up per language — the fertility report a tokenizer team reads.
    // Counts are integers; fertility is one double division rounded at 4dp
    QuerySpec("q216_bpe_fertility", ((s, dir) => {
      val docs = read(s, dir, "documents")
      val merges = CorpusStats.bpeTrain(docs, "text", merges = 6,
        minWordCount = 2L)
        .orderBy(col("step")).collect()
        .map(r => (r.getString(1), r.getString(2))).toSeq
      // a lang whose docs contain no [a-z]+ word has no fertility (the
      // oracle unnests words first, so such a lang never reaches its
      // GROUP BY) — drop zero-word docs so both sides agree by shape
      CorpusStats.bpeEncode(docs, "text", merges)
        .filter(col("bpe_words") > 0)
        .groupBy(col("lang"))
        .agg(sum(col("bpe_words")).as("n_words"),
          sum(col("bpe_subwords")).as("n_subwords"))
        .withColumn("fertility",
          round(col("n_subwords") / col("n_words"), 4))
        .orderBy(col("lang"))
    }),
      // BPE train-then-apply: the same 6-merge replay, then every word
      // re-encoded through the learned chain (the m1…m6 rows applied as the
      // same sequential literal replaces) and symbol counts rolled up per
      // language. Pipe counting: a word with n symbols carries exactly 2n
      // pipes, so n = (len − len-without-pipes)/2 — integer-exact
      s"""WITH ${bpeCtes(merges = 6, minCount = 2L)},
         d0 AS (SELECT lang,
                  unnest(regexp_extract_all(lower(text), '[a-z]+')) AS w
                FROM documents),
         s0 AS (SELECT lang, regexp_replace(w, '(.)', '|\\1|', 'g') AS e
                FROM d0),
         ${(1 to 6).map(i =>
        s"""s$i AS (SELECT lang, replace(e, '|' || m$i.l || '||' || m$i.r || '|',
                  '|' || m$i.mg || '|') AS e
                FROM s${i - 1} CROSS JOIN m$i)""").mkString(",\n         ")}
         SELECT lang, count(*)::BIGINT AS n_words,
           CAST(sum(CAST((len(e) - len(replace(e, '|', ''))) / 2 AS BIGINT))
             AS BIGINT) AS n_subwords,
           round(sum(CAST((len(e) - len(replace(e, '|', ''))) / 2 AS BIGINT))
                 / count(*)::DOUBLE, 4) AS fertility
         FROM s6 GROUP BY lang ORDER BY lang"""),
    QuerySpec("q27_lang_quality", ((s, dir) => {
      read(s, dir, "documents")
        .select(col("doc_id"),
          TextFunctions.langId(col("text")).as("lang_pred"),
          TextFunctions.qualityScore(col("text")).as("quality"),
          TextFunctions.subwordCount(col("text")).as("n_subwords"))
        .orderBy(col("doc_id"))
    }), {
      // langId / qualityScore / subwordCount re-expressed in DuckDB SQL; the
      // stopword lists are interpolated from TextFunctions.stopwords (single
      // source of truth). Subword boundaries: Spark splits on lookarounds at
      // letter↔digit transitions; RE2 has no lookarounds, so the oracle inserts
      // spaces at transitions (two backref replaces) then splits on non-alnum.
      val langs = TextFunctions.stopwords.toSeq.sortBy(_._1) // de, en, es, fr
      val allStops = TextFunctions.stopwords.values.flatten.toSeq.distinct.sorted
      val scoreCols = langs.map { case (lang, words) =>
        s"len(list_intersect(toks, ${sqlList(words)}))::DOUBLE / greatest(len(toks), 1)::DOUBLE AS s_$lang"
      }.mkString(",\n             ")
      val gs = "greatest(s_de, s_en, s_es, s_fr)"
      s"""WITH t AS (
           SELECT doc_id, text,
             list_filter(regexp_split_to_array(trim(lower(text)), '\\s+'),
               x -> len(x) > 0) AS toks
           FROM documents),
         sc AS (
           SELECT doc_id, text, toks,
             $scoreCols,
             len(list_intersect(toks, ${sqlList(allStops)}))::DOUBLE / greatest(len(toks), 1)::DOUBLE AS s_all,
             (length(text) - length(regexp_replace(text, '[[:punct:]]', '', 'g')))::DOUBLE
               / greatest(length(text), 1)::DOUBLE AS pr,
             length(regexp_replace(text, '[^\\pL]', '', 'g'))::DOUBLE
               / greatest(length(text), 1)::DOUBLE AS ar
           FROM t)
         SELECT doc_id,
           CASE WHEN $gs = 0 THEN 'und'
                WHEN s_fr = $gs THEN 'fr'
                WHEN s_es = $gs THEN 'es'
                WHEN s_en = $gs THEN 'en'
                ELSE 'de' END AS lang_pred,
           round(least(len(toks)::DOUBLE / 20.0, 1.0) * 0.25
               + greatest(1.0 - pr * 4.0, 0.0) * 0.25
               + ar * 0.25
               + least(s_all * 3.0, 1.0) * 0.25, 6) AS quality,
           len(list_filter(regexp_split_to_array(
                 regexp_replace(regexp_replace(lower(trim(text)),
                   '(\\pL)(\\pN)', '\\1 \\2', 'g'), '(\\pN)(\\pL)', '\\1 \\2', 'g'),
                 '[^\\pL\\pN]+'), x -> len(x) > 0)) AS n_subwords
         FROM sc ORDER BY doc_id"""
    }),
    QuerySpec("q28_fingerprint", ((s, dir) => {
      // md5-based fingerprints so DuckDB can recompute them bit-for-bit;
      // the xxhash64/rolling-kernel family stays spec-tested (KernelSpec).
      val d = read(s, dir, "documents")
      d.select(col("doc_id"),
        TextFunctions.md5Fingerprint(col("text")).as("fp"),
        TextFunctions.minShingleMd5(col("text"), 3).as("min_shingle_fp"),
        // arithmetic, not size(shingles(...)): building the shingle-string
        // array just to count it costs interpreted O(tokens²) per row
        greatest(TextFunctions.tokenCount(col("text")) - lit(2), lit(0)).as("n_shingles"))
        .gateOrdered(col("doc_id"))
    }),
      // q29's LSH candidate net (16 bands × 2 bits) empirically contains every
      // true top-5 neighbor at oracle scale, so the re-ranked output equals
      // exact brute force — same oracle as q21.
      // md5 normalization mirror of TextFunctions.tokens: trim → lower →
      // split \s+; shingles = 3-token windows joined by single spaces.
      """WITH toks AS (
           SELECT doc_id,
                  CASE WHEN length(trim(text)) = 0 THEN []
                       ELSE string_split_regex(lower(trim(text)), '\s+') END AS t
           FROM documents)
         SELECT doc_id,
                md5(array_to_string(t, ' ')) AS fp,
                CASE WHEN len(t) >= 3
                     THEN list_aggregate(list_transform(range(1, len(t) - 1),
                          i -> md5(array_to_string(t[i:i+2], ' '))), 'min')
                     ELSE NULL END AS min_shingle_fp,
                CASE WHEN len(t) >= 3 THEN len(t) - 2 ELSE 0 END AS n_shingles
         FROM toks ORDER BY doc_id"""),

    // ---- sequence packing (Packing extension) ---------------------------
    QuerySpec("q47_pack_sequences", ((s, dir) => {
      // small blockSize so the hierarchical (block-level) prefix-sum path
      // actually exercises multiple blocks at verify scale
      Packing.packByBudget(
          read(s, dir, "documents").select(col("doc_id"), col("n_chars")),
          "doc_id", "n_chars", budget = 65536, blockSize = 512)
        .select(col("doc_id"), col("n_chars"), col("start_offset"), col("pack_id"))
        .orderBy(col("doc_id"))
    }),
      """SELECT doc_id, n_chars, start_offset, (start_offset // 65536)::BIGINT AS pack_id
         FROM (SELECT doc_id, n_chars,
                 coalesce(sum(n_chars) OVER (ORDER BY doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)::BIGINT AS start_offset
               FROM documents) t
         ORDER BY doc_id"""),

    // ---- decontamination (Decontaminate extension) ----------------------
    QuerySpec("q48_decontaminate", ((s, dir) => {
      // held-out "eval set" = every 20th doc; flag train docs sharing
      // word-3-grams with it (test-set leakage detection)
      val docs = read(s, dir, "documents")
      Decontaminate.ngramOverlap(
          docs.filter(col("doc_id") % 20 =!= 0), "doc_id", "text",
          docs.filter(col("doc_id") % 20 === 0), "text",
          shingleSize = 3)
        .select(col("id").as("train_id"), col("n_ngrams"), col("n_hit"),
          round(col("contam_frac"), 4).as("contam_frac"), col("contaminated"))
        .orderBy(col("train_id"))
    }),
      """WITH t AS (
           SELECT doc_id, list_filter(regexp_split_to_array(trim(lower(text)), '\s+'),
                  x -> len(x) > 0) AS toks
           FROM documents),
         s AS (
           SELECT doc_id,
             CASE WHEN len(toks) >= 3
               THEN list_distinct(list_transform(range(1, len(toks) - 1),
                    i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]))
               ELSE []::VARCHAR[] END AS sh
           FROM t),
         te AS (SELECT DISTINCT unnest(sh) AS g FROM s WHERE doc_id % 20 = 0),
         tr AS (SELECT doc_id, sh FROM s WHERE doc_id % 20 <> 0),
         hit AS (
           SELECT doc_id, count(*) AS n_hit
           FROM (SELECT doc_id, unnest(sh) AS g FROM tr) x JOIN te USING (g)
           GROUP BY doc_id)
         SELECT tr.doc_id AS train_id, len(tr.sh) AS n_ngrams,
           coalesce(hit.n_hit, 0) AS n_hit,
           round(CASE WHEN len(tr.sh) = 0 THEN 0.0
             ELSE coalesce(hit.n_hit, 0)::DOUBLE / len(tr.sh)::DOUBLE END, 4) AS contam_frac,
           coalesce(hit.n_hit, 0) >= 1 AS contaminated
         FROM tr LEFT JOIN hit USING (doc_id) ORDER BY train_id"""),

    // ---- intra-doc repetition (Repetition extension) --------------------
    QuerySpec("q49_repetition", ((s, dir) => {
      Repetition.stats(read(s, dir, "documents"), "doc_id", "text", n = 3)
        .select(col("id").as("doc_id"), col("n_tokens"),
          round(col("type_token_ratio"), 4).as("type_token_ratio"),
          round(col("dup_ngram_frac"), 4).as("dup_ngram_frac"),
          round(col("top_ngram_share"), 4).as("top_ngram_share"))
        .gateOrdered(col("doc_id"))
    }),
      """WITH t AS (
           SELECT doc_id, list_filter(regexp_split_to_array(trim(lower(text)), '\s+'),
                  x -> len(x) > 0) AS toks
           FROM documents),
         g AS (
           SELECT doc_id, toks,
             CASE WHEN len(toks) >= 3
               THEN list_transform(range(1, len(toks) - 1),
                    i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])
               ELSE []::VARCHAR[] END AS grams
           FROM t),
         tops AS (
           SELECT doc_id, max(c)::DOUBLE / sum(c)::DOUBLE AS share
           FROM (SELECT doc_id, gram, count(*) AS c
                 FROM (SELECT doc_id, unnest(grams) AS gram FROM g) x
                 GROUP BY doc_id, gram) y
           GROUP BY doc_id)
         SELECT g.doc_id, len(g.toks) AS n_tokens,
           round(CASE WHEN len(g.toks) = 0 THEN 0.0
             ELSE len(list_distinct(g.toks))::DOUBLE / len(g.toks)::DOUBLE END, 4)
             AS type_token_ratio,
           round(CASE WHEN len(g.grams) = 0 THEN 0.0
             ELSE 1.0 - len(list_distinct(g.grams))::DOUBLE / len(g.grams)::DOUBLE END, 4)
             AS dup_ngram_frac,
           round(coalesce(tops.share, 0.0), 4) AS top_ngram_share
         FROM g LEFT JOIN tops USING (doc_id) ORDER BY g.doc_id"""),

    // ---- flagship composition: the full training-corpus pipeline --------
    QuerySpec("q52_corpus_pipeline", ((s, dir) => {
      // quality gate → decontaminate vs held-out eval split → per-source
      // quota cap → sequence packing: every stage is one of the library's
      // oracle-checked operators, composed end-to-end
      val docs = read(s, dir, "documents")
      val evalSet = docs.filter(col("doc_id") % 20 === 0)
      val train = docs.filter(col("doc_id") % 20 =!= 0)
      val quality = train.filter(
        Repetition.typeTokenRatio(col("text")) >= 0.40 &&
        Repetition.topNgramShare(col("text"), 3) <= 0.05)
      val clean = Decontaminate.removeContaminated(quality, "doc_id", "text",
        evalSet, "text", shingleSize = 3, minOverlap = 10)
      val capped = Sampling.quotaPerGroup(
        clean.select(col("doc_id"), col("source"), col("n_chars")),
        Seq("source"), Seq(col("n_chars").desc, col("doc_id").asc), k = 20)
      Packing.packByBudget(capped, "doc_id", "n_chars",
          budget = 16384, blockSize = 256)
        .select(col("doc_id"), col("source"), col("n_chars"),
          col("quota_rank"), col("pack_id"))
        .orderBy(col("doc_id"))
    }),
      """WITH t AS (
           SELECT doc_id, list_filter(regexp_split_to_array(trim(lower(text)), '\s+'),
                  x -> len(x) > 0) AS toks
           FROM documents),
         g AS (
           SELECT doc_id, toks,
             CASE WHEN len(toks) >= 3
               THEN list_transform(range(1, len(toks) - 1),
                    i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])
               ELSE []::VARCHAR[] END AS grams
           FROM t),
         tops AS (
           SELECT doc_id, max(c)::DOUBLE / sum(c)::DOUBLE AS share
           FROM (SELECT doc_id, gram, count(*) AS c
                 FROM (SELECT doc_id, unnest(grams) AS gram FROM g) x
                 GROUP BY doc_id, gram) y
           GROUP BY doc_id),
         m AS (
           SELECT g.doc_id,
             CASE WHEN len(g.toks) = 0 THEN 0.0
               ELSE len(list_distinct(g.toks))::DOUBLE / len(g.toks)::DOUBLE END AS ttr,
             coalesce(tops.share, 0.0) AS share
           FROM g LEFT JOIN tops USING (doc_id)),
         te AS (SELECT DISTINCT unnest(grams) AS gm FROM g WHERE doc_id % 20 = 0),
         hit AS (
           SELECT doc_id, count(*) AS n_hit
           FROM (SELECT doc_id, unnest(list_distinct(grams)) AS gm
                 FROM g WHERE doc_id % 20 <> 0) x JOIN te USING (gm)
           GROUP BY doc_id),
         base AS (
           SELECT d.doc_id, d.source, d.n_chars
           FROM documents d
           JOIN m ON d.doc_id = m.doc_id
           LEFT JOIN hit ON d.doc_id = hit.doc_id
           WHERE d.doc_id % 20 <> 0 AND m.ttr >= 0.40 AND m.share <= 0.05
             AND coalesce(hit.n_hit, 0) < 10),
         capped AS (
           SELECT * FROM (
             SELECT base.*, row_number() OVER (
               PARTITION BY source ORDER BY n_chars DESC, doc_id ASC) AS quota_rank
             FROM base) z
           WHERE quota_rank <= 20),
         packed AS (
           SELECT capped.*,
             coalesce(sum(n_chars) OVER (ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)::BIGINT AS start_offset
           FROM capped)
         SELECT doc_id, source, n_chars, quota_rank,
           (start_offset // 16384)::BIGINT AS pack_id
         FROM packed ORDER BY doc_id"""),

    // ---- text cleaning (TextClean) --------------------------------------
    QuerySpec("q59_text_clean", ((s, dir) => {
      // synthesize PII + decomposed-unicode text deterministically from row
      // values, then run the full hygiene pass; the oracle rebuilds the
      // same strings and cleans them with DuckDB's RE2 + nfc_normalize
      val synth = concat(
        substring(col("text"), 1, 40),
        lit(" caf"), lit("\u0065\u0301"),
        lit(" contact user"), col("doc_id").cast("string"),
        lit("@example.com via https://site"), (col("doc_id") % 7).cast("string"),
        lit(".io at 10.0."), (col("doc_id") % 256).cast("string"), lit(".1"))
      read(s, dir, "documents")
        .select(col("doc_id"), TextClean.clean(synth).as("cleaned"))
        .orderBy(col("doc_id"))
    }),
      // the redaction chain is GENERATED from TextClean.piiPatterns (one
      // definition for Spark and the oracle), then the explicit-class
      // whitespace squash (TextClean.wsClass — `\s` differs between Java
      // regex and RE2 on \x0B)
      s"""WITH synth AS (
           SELECT doc_id,
             substring(text, 1, 40) || ' caf' || 'e' || chr(769) ||
             ' contact user' || doc_id::VARCHAR ||
             '@example.com via https://site' || (doc_id % 7)::VARCHAR ||
             '.io at 10.0.' || (doc_id % 256)::VARCHAR || '.1' AS t
           FROM documents)
         SELECT doc_id,
           trim(regexp_replace(
             ${graft.functions.TextClean.redactSqlChain("nfc_normalize(t)")},
             '[${graft.functions.TextClean.wsClass}]+', ' ', 'g')) AS cleaned
         FROM synth ORDER BY doc_id"""),

    // ---- corpus boilerplate mining: top n-grams -------------------------
    QuerySpec("q71_top_ngrams", ((s, dir) => {
      CorpusStats.topNgrams(read(s, dir, "documents"), "doc_id", "text",
        n = 3, k = 50)
        .gateOrdered(col("total_count").desc, col("ngram"))
    }),
      // Top trigrams by corpus occurrence count, n-gram string tiebreak
      """WITH t AS (
           SELECT doc_id, list_filter(regexp_split_to_array(trim(lower(text)), '\s+'),
                  x -> len(x) > 0) AS toks
           FROM documents),
         grams AS (
           SELECT doc_id, toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] AS ngram
           FROM t, unnest(range(1, len(toks) - 1)) AS u(i))
         SELECT ngram, count(*)::BIGINT AS total_count,
                count(DISTINCT doc_id)::BIGINT AS doc_freq
         FROM grams GROUP BY ngram
         ORDER BY total_count DESC, ngram LIMIT 50"""),

    // ---- BM25 keyword search (lexical retrieval) ------------------------
    QuerySpec("q72_bm25_search", ((s, dir) => {
      import s.implicits._
      val queries = Seq(
        (0L, "spark table join"),
        (1L, "slow hash batch"),
        (2L, "vector stream window value")).toDF("query_id", "qtext")
      Search.bm25TopK(read(s, dir, "documents"), "doc_id", "text",
        queries, "query_id", "qtext", k = 10)
        .select(col("query_id"), col("doc_id"),
          round(col("score"), 4).as("score"), col("rank"))
        .orderBy(col("query_id"), col("rank"))
    }),
      // Okapi BM25 (Lucene idf form) over distinct query terms; ranks over
      // unrounded scores with doc-id tiebreak on both engines (q21 pattern)
      """WITH base AS (
           SELECT doc_id, list_filter(regexp_split_to_array(trim(lower(text)), '\s+'),
                  x -> len(x) > 0) AS toks
           FROM documents),
         d AS (SELECT doc_id, toks, len(toks) AS dl FROM base WHERE len(toks) > 0),
         stats AS (SELECT count(*) AS n_docs, avg(dl) AS avgdl FROM d),
         q(query_id, qtext) AS (VALUES
           (CAST(0 AS BIGINT), 'spark table join'),
           (CAST(1 AS BIGINT), 'slow hash batch'),
           (CAST(2 AS BIGINT), 'vector stream window value')),
         qt AS (
           SELECT query_id, unnest(list_distinct(list_filter(
             regexp_split_to_array(trim(lower(qtext)), '\s+'),
             x -> len(x) > 0))) AS term
           FROM q),
         vocab AS (SELECT DISTINCT term FROM qt),
         posting AS (
           SELECT term, doc_id, dl, count(*) AS tf
           FROM (SELECT doc_id, dl, unnest(toks) AS term FROM d) s
           JOIN vocab USING (term)
           GROUP BY term, doc_id, dl),
         dfreq AS (SELECT term, count(*) AS df FROM posting GROUP BY term),
         sc AS (
           SELECT qt.query_id, p.doc_id,
             sum(ln(1.0 + (st.n_docs - f.df + 0.5) / (f.df + 0.5))
               * (p.tf * 2.2)
               / (p.tf + 1.2 * (0.25 + 0.75 * p.dl / st.avgdl))) AS score
           FROM posting p
           JOIN dfreq f USING (term)
           JOIN qt ON qt.term = p.term
           CROSS JOIN stats st
           GROUP BY qt.query_id, p.doc_id)
         SELECT query_id, doc_id, round(score, 4) AS score, rank FROM (
           SELECT query_id, doc_id, score,
             row_number() OVER (PARTITION BY query_id
               ORDER BY score DESC, doc_id ASC) AS rank
           FROM sc) r
         WHERE rank <= 10 ORDER BY query_id, rank"""),

    // ---- per-document TF-IDF keywords -----------------------------------
    // top-3 terms per doc by tf·ln(N/df) over the corpus's own df table;
    // minDf=5 drops hapax noise; ranked on the 6-dp-rounded score with
    // term-asc tie-break (a total order — deterministic across engines)
    QuerySpec("q218_tfidf_keywords", ((s, dir) => {
      Search.tfidfKeywords(read(s, dir, "documents"), "doc_id", "text",
        k = 3, minDf = 5L)
        .gateOrdered(col("doc_id"), col("rank"))
    }),
      // TF-IDF keywords: the same tokenizer and posting/df tables as q72,
      // classic tf·ln(N/df), rank on the ROUNDED score + term asc
      """WITH base AS (
           SELECT doc_id, list_filter(regexp_split_to_array(trim(lower(text)), '\s+'),
                  x -> len(x) > 0) AS toks
           FROM documents),
         d AS (SELECT doc_id, toks FROM base WHERE len(toks) > 0),
         post AS (SELECT term, doc_id, count(*)::BIGINT AS tf
                  FROM (SELECT doc_id, unnest(toks) AS term FROM d) s
                  GROUP BY term, doc_id),
         dfreq AS (SELECT term, count(*)::BIGINT AS df FROM post
                   GROUP BY term HAVING count(*) >= 5),
         nn AS (SELECT count(*)::BIGINT AS n_docs FROM d),
         sc AS (SELECT p.doc_id, p.term, p.tf, f.df,
                  round(p.tf * ln(nn.n_docs::DOUBLE / f.df), 6) AS tfidf
                FROM post p JOIN dfreq f USING (term) CROSS JOIN nn),
         rk AS (SELECT *, row_number() OVER (PARTITION BY doc_id
                  ORDER BY tfidf DESC, term ASC) AS rank FROM sc)
         SELECT doc_id, term, tf, df, tfidf, CAST(rank AS INT) AS rank
         FROM rk WHERE rank <= 3 ORDER BY doc_id, rank"""),

    // ---- per-source curation scorecard ----------------------------------
    QuerySpec("q199_source_scorecard", ((s, dir) => {
      CorpusStats.sourceScorecard(read(s, dir, "documents"), "text",
          sourceCol = "source", langCol = "lang", targetLang = "en")
        .gateOrdered(col("source"))
    }),
      // Per-source scorecard: md5 fingerprint distinct (q28's normalized
      // form), token counts (q19's tokenizer), integer-exact shares
      """WITH t AS (
           SELECT source, lang,
             CASE WHEN length(trim(text)) = 0 THEN []
                  ELSE string_split_regex(lower(trim(text)), '\s+') END AS toks
           FROM documents)
         SELECT source,
           count(*)::BIGINT AS n_docs,
           count(DISTINCT md5(array_to_string(toks, ' ')))::BIGINT AS n_distinct,
           round(1.0 - count(DISTINCT md5(array_to_string(toks, ' ')))
                 / count(*)::DOUBLE, 4) AS dup_rate,
           sum(len(toks))::BIGINT AS total_tokens,
           round(avg(len(toks)), 2) AS avg_tokens,
           round(avg(CASE WHEN lang = 'en' THEN 1 ELSE 0 END), 4) AS target_lang_share
         FROM t GROUP BY source ORDER BY source"""),

    // ---- ingestion novelty curve (CorpusStats) ----------------------------
    // new-fingerprint rate per doc_id batch; the cumulative distinct count
    // rides the deterministic-bucket cumsum (no global window at any scale)
    QuerySpec("q224_novelty_curve", ((s, dir) => {
      CorpusStats.noveltyCurve(read(s, dir, "documents"), "doc_id", "text",
          batchSize = 100L)
        .orderBy(col("batch"))
    }),
      // Fingerprint = the q150 whitespace-normalized md5; first-seen batch
      // per fingerprint, inclusive running distinct count over the batch
      // spine (batches are distinct rows, so RANGE ≡ ROWS here)
      """WITH b AS (SELECT floor(doc_id / 100)::BIGINT AS batch,
                  md5(array_to_string(
                    CASE WHEN length(trim(text)) = 0 THEN []
                         ELSE string_split_regex(lower(trim(text)), '\s+') END,
                    ' ')) AS fp
                FROM documents),
         pb AS (SELECT batch, count(*)::BIGINT AS n_docs FROM b GROUP BY 1),
         fs AS (SELECT fp, min(batch) AS batch FROM b GROUP BY 1),
         nn AS (SELECT batch, count(*)::BIGINT AS n_new FROM fs GROUP BY 1),
         c AS (SELECT pb.batch, pb.n_docs, coalesce(nn.n_new, 0)::BIGINT AS n_new
               FROM pb LEFT JOIN nn USING (batch))
         SELECT batch, n_docs, n_new,
           (sum(n_new) OVER (ORDER BY batch))::BIGINT AS cum_new,
           round(n_new::DOUBLE / n_docs, 6) AS novelty_rate
         FROM c ORDER BY batch"""),

    // ---- source/lang concentration report (CorpusStats) ------------------
    // Gini + HHI + top-share of docs per language — the diversity gate a
    // mixture designer reads before trusting per-source weights
    QuerySpec("q233_concentration", ((s, dir) => {
      CorpusStats.concentrationReport(read(s, dir, "documents"), "lang")
        .select(col("n_rows"), col("n_keys"),
          (round(col("gini"), 6) + lit(0.0)).as("gini"),
          (round(col("hhi"), 6) + lit(0.0)).as("hhi"),
          (round(col("top_share"), 6) + lit(0.0)).as("top_share"))
    }),
      // Gini over per-key counts: sum of i*x_i is order-invariant within
      // tied counts, so any deterministic row_number tiebreak agrees with
      // the closed-form tie-block expression the Spark side evaluates
      """WITH c AS (SELECT lang, count(*)::BIGINT AS c FROM documents
                    WHERE lang IS NOT NULL GROUP BY 1),
         w AS (SELECT c, row_number() OVER (ORDER BY c, lang) AS i FROM c),
         t AS (SELECT count(*)::DOUBLE AS k, sum(c)::DOUBLE AS tt,
                 sum(i * c::DOUBLE) AS s,
                 sum(c::DOUBLE * c::DOUBLE) AS q,
                 max(c)::DOUBLE AS mx
               FROM w)
         SELECT tt::BIGINT AS n_rows, k::BIGINT AS n_keys,
           CASE WHEN k > 1
                THEN round(2 * s / (k * tt) - (k + 1) / k, 6) + 0.0 END AS gini,
           round(q / (tt * tt), 6) + 0.0 AS hhi,
           round(mx / tt, 6) + 0.0 AS top_share
         FROM t"""),

    // ---- rank-biased overlap of two term rankings (Search) ---------------
    // top-20 tf rankings of the even/odd document halves, compared with
    // the top-weighted RBO measure; everything after the term counts is
    // k-bounded by construction
    QuerySpec("q234_rbo", ((s, dir) => {
      val docs = read(s, dir, "documents")
      def topTerms(half: Int): DataFrame = {
        val w = Window.orderBy(col("cnt").desc, col("term").asc)
        docs.filter(col("doc_id") % 2 === half)
          .select(explode(TextFunctions.tokens(col("text"))).as("term"))
          .groupBy(col("term")).agg(count(lit(1)).as("cnt"))
          .orderBy(col("cnt").desc, col("term").asc).limit(20)
          .withColumn("rank", row_number().over(w))
      }
      Search.rbo(topTerms(0), topTerms(1), "term", "rank", p = 0.9, k = 20)
        .select(col("depth"), col("n_common"),
          (round(col("rbo"), 6) + lit(0.0)).as("rbo"),
          (round(col("rbo_ext"), 6) + lit(0.0)).as("rbo_ext"))
    }),
      // RBO from the overlap-at-depth table: X_d = pairs whose max rank <= d;
      // same q72-convention tokenizer, (count desc, term asc) rankings
      """WITH toks AS (SELECT doc_id,
             unnest(list_filter(regexp_split_to_array(trim(lower(text)), '\s+'),
               x -> len(x) > 0)) AS term
           FROM documents),
         ra AS (SELECT term, row_number() OVER
                  (ORDER BY count(*) DESC, term ASC) AS r
                FROM toks WHERE doc_id % 2 = 0 GROUP BY term
                ORDER BY count(*) DESC, term ASC LIMIT 20),
         rb AS (SELECT term, row_number() OVER
                  (ORDER BY count(*) DESC, term ASC) AS r
                FROM toks WHERE doc_id % 2 = 1 GROUP BY term
                ORDER BY count(*) DESC, term ASC LIMIT 20),
         fd AS (SELECT greatest(ra.r, rb.r) AS g FROM ra JOIN rb USING (term)),
         xd AS (SELECT d, (SELECT count(*) FROM fd WHERE g <= d)::BIGINT AS x
                FROM range(1, 21) t(d)),
         s AS (SELECT sum(pow(0.9, d - 1) * x / d) AS acc,
                 max(CASE WHEN d = 20 THEN x END)::BIGINT AS nc
               FROM xd)
         SELECT 20 AS depth, nc AS n_common,
           round(0.1 * acc, 6) + 0.0 AS rbo,
           round(0.1 * acc + nc / 20.0 * pow(0.9, 20), 6) + 0.0 AS rbo_ext
         FROM s"""),

    // ---- per-source boilerplate heads (CorpusStats) -----------------------
    // scraper-template detector: the share of a source one normalized
    // 40-char document head dominates; keyed window only, never global
    QuerySpec("q237_boilerplate", ((s, dir) => {
      CorpusStats.boilerplateHeads(read(s, dir, "documents"),
          "text", "source", headChars = 40)
        .orderBy(col("source"))
    }),
      // head fingerprint = first 40 chars of lowercased whitespace-collapsed
      // text; top head per source by (count desc, head asc)
      """WITH h AS (SELECT source,
             substr(regexp_replace(lower(trim(text)), '[ \t\n\r]+', ' ', 'g'),
               1, 40) AS hd
           FROM documents WHERE source IS NOT NULL),
         c AS (SELECT source, hd, count(*)::BIGINT AS hc FROM h GROUP BY 1, 2),
         r AS (SELECT *, row_number() OVER (PARTITION BY source
                 ORDER BY hc DESC, hd ASC) AS rk FROM c)
         SELECT source, sum(hc)::BIGINT AS n_docs,
           count(*)::BIGINT AS n_distinct_heads,
           max(CASE WHEN rk = 1 THEN hc END)::BIGINT AS top_count,
           round(max(CASE WHEN rk = 1 THEN hc END) / sum(hc)::DOUBLE, 6)
             AS top_share,
           max(CASE WHEN rk = 1 THEN hd END) AS top_head
         FROM r GROUP BY source ORDER BY source"""),

    // ---- per-source lexical KL vs the corpus (CorpusStats) ----------------
    // token-distribution distinctiveness over the global top-200 vocab +
    // OTHER bucket; one corpus scan, |sources|x(V+1)-bounded aggregation
    QuerySpec("q245_source_divergence", ((s, dir) => {
      CorpusStats.sourceDivergence(read(s, dir, "documents"),
          "text", "source", topV = 200)
        .select(col("source"), col("n_tokens"),
          (round(col("kl_nats"), 6) + lit(0.0)).as("kl_nats"))
        .orderBy(col("source"))
    }),
      // same q72-convention tokenizer; OTHER bucket keyed by '' (impossible
      // as a real token), global support contains every source's support
      """WITH toks AS (SELECT source,
             unnest(list_filter(regexp_split_to_array(trim(lower(text)), '\s+'),
               x -> len(x) > 0)) AS term
           FROM documents WHERE source IS NOT NULL),
         vocab AS (SELECT term FROM (
             SELECT term, count(*) AS c FROM toks
             GROUP BY 1 ORDER BY c DESC, term ASC LIMIT 200)),
         b AS (SELECT t.source,
                 CASE WHEN v.term IS NOT NULL THEN t.term ELSE '' END AS t
               FROM toks t LEFT JOIN vocab v ON t.term = v.term),
         ps AS (SELECT source, t, count(*)::BIGINT AS cs FROM b GROUP BY 1, 2),
         ts AS (SELECT source, sum(cs) AS ts FROM ps GROUP BY 1),
         g AS (SELECT t, sum(cs) AS cg FROM ps GROUP BY 1),
         tg AS (SELECT sum(cg) AS tg FROM g)
         SELECT ps.source, max(ts.ts)::BIGINT AS n_tokens,
           round(greatest(sum((cs / ts.ts::DOUBLE)
             * ln((cs / ts.ts::DOUBLE) / (cg / tg.tg::DOUBLE))), 0.0), 6)
             + 0.0 AS kl_nats
         FROM ps JOIN ts USING (source) JOIN g USING (t) CROSS JOIN tg
         GROUP BY ps.source ORDER BY ps.source"""),

    // ---- Chao1 + Good-Turing vocabulary richness (CorpusStats) ------------
    // unseen-vocabulary estimators from the term frequency-of-frequencies
    QuerySpec("q252_vocab_richness", ((s, dir) => {
      CorpusStats.vocabRichness(read(s, dir, "documents"), "text")
        .select(col("n_tokens"), col("n_types"), col("f1"), col("f2"),
          (round(col("chao1"), 4) + lit(0.0)).as("chao1"),
          (round(col("gt_unseen_mass"), 6) + lit(0.0)).as("gt_unseen_mass"))
    }),
      // frequency-of-frequencies -> Chao1 + Good-Turing; same q72 tokenizer
      """WITH toks AS (SELECT unnest(list_filter(
               regexp_split_to_array(trim(lower(text)), '\s+'),
               x -> len(x) > 0)) AS term
           FROM documents),
         tc AS (SELECT term, count(*)::BIGINT c FROM toks GROUP BY 1),
         ff AS (SELECT c, count(*)::BIGINT m FROM tc GROUP BY 1),
         t AS (SELECT sum(c * m)::BIGINT n_tokens, sum(m)::BIGINT n_types,
                 coalesce(sum(CASE WHEN c = 1 THEN m END), 0)::BIGINT f1,
                 coalesce(sum(CASE WHEN c = 2 THEN m END), 0)::BIGINT f2
               FROM ff)
         SELECT n_tokens, n_types, f1, f2,
           round(n_types + f1::DOUBLE * (f1 - 1) / (2.0 * (f2 + 1)), 4)
             + 0.0 AS chao1,
           (CASE WHEN n_tokens > 0
             THEN round(f1::DOUBLE / n_tokens, 6) END) + 0.0
             AS gt_unseen_mass
         FROM t"""),

    // ---- Hill tail-index of the term-frequency law (CorpusStats) ----------
    // the heavy-tail exponent from the top-50 order statistics
    QuerySpec("q253_hill_tail", ((s, dir) => {
      // k = 20: the synthetic corpus draws from a ~31-term pool, so the
      // estimator needs k + 1 <= vocabulary
      CorpusStats.hillTailIndex(read(s, dir, "documents"), "text", k = 20)
        .select(col("k"), col("x_tail"),
          (round(col("alpha"), 6) + lit(0.0)).as("alpha"))
    }),
      // top-51 counts under (count desc, term asc); boundary ties contribute
      // ln(1)=0 so the 51-row sum equals the top-50 sum exactly
      """WITH toks AS (SELECT unnest(list_filter(
               regexp_split_to_array(trim(lower(text)), '\s+'),
               x -> len(x) > 0)) AS term
           FROM documents),
         tc AS (SELECT term, count(*)::BIGINT c FROM toks GROUP BY 1),
         top AS (SELECT c FROM tc ORDER BY c DESC, term ASC LIMIT 21),
         t AS (SELECT min(c)::BIGINT xt FROM top),
         s AS (SELECT sum(ln(c::DOUBLE / t.xt)) ls FROM top, t)
         SELECT 20 AS k, t.xt AS x_tail,
           (CASE WHEN s.ls > 0 THEN round(20.0 / s.ls, 6) END) + 0.0 AS alpha
         FROM t, s"""),

    // ---- per-source lexical diversity: TTR + hapax share (CorpusStats) ----
    QuerySpec("q257_lexical_diversity", ((s, dir) => {
      CorpusStats.lexicalDiversity(read(s, dir, "documents"), "text", "source")
        .select(col("group").as("source"), col("n_tokens"), col("n_types"),
          (round(col("ttr"), 6) + lit(0.0)).as("ttr"),
          (round(col("hapax_rate"), 6) + lit(0.0)).as("hapax_rate"))
        .orderBy(col("source"))
    }),
      // per-source type/token/hapax counts; same q72 tokenizer
      """WITH toks AS (SELECT source, unnest(list_filter(
               regexp_split_to_array(trim(lower(text)), '\s+'),
               x -> len(x) > 0)) AS term
           FROM documents WHERE source IS NOT NULL),
         gt AS (SELECT source, term, count(*)::BIGINT c FROM toks
                GROUP BY 1, 2),
         g AS (SELECT source, sum(c)::BIGINT n_tokens,
                 count(*)::BIGINT n_types,
                 sum(CASE WHEN c = 1 THEN 1 ELSE 0 END)::BIGINT hapax
               FROM gt GROUP BY 1)
         SELECT source, n_tokens, n_types,
           round(n_types::DOUBLE / n_tokens, 6) + 0.0 AS ttr,
           round(hapax::DOUBLE / n_types, 6) + 0.0 AS hapax_rate
         FROM g ORDER BY source"""),

    // ---- term burstiness: Fisher dispersion of top terms (CorpusStats) ----
    // variance-to-mean of per-doc counts, zeros in closed form
    QuerySpec("q258_burstiness", ((s, dir) => {
      CorpusStats.termBurstiness(read(s, dir, "documents"), "doc_id", "text",
          k = 20)
        .select(col("term"), col("total"), col("doc_freq"),
          (round(col("vmr"), 6) + lit(0.0)).as("vmr"))
        .gateOrdered(col("total").desc, col("term"))
    }),
      // per-(term, doc) counts; zero docs enter the dispersion in closed
      // form (VMR = sq/total - total/D)
      """WITH toks AS (SELECT doc_id, unnest(list_filter(
               regexp_split_to_array(trim(lower(text)), '\s+'),
               x -> len(x) > 0)) AS term
           FROM documents),
         td AS (SELECT term, doc_id, count(*)::BIGINT c FROM toks
                GROUP BY 1, 2),
         dd AS (SELECT count(*)::BIGINT nd FROM documents),
         t AS (SELECT term, sum(c)::BIGINT total, count(*)::BIGINT doc_freq,
                 sum(c * c)::BIGINT sq FROM td GROUP BY 1)
         SELECT term, total, doc_freq,
           round(sq::DOUBLE / total - total::DOUBLE / dd.nd, 6) + 0.0 AS vmr
         FROM t, dd ORDER BY total DESC, term ASC LIMIT 20"""),

    // ---- top-k bigram collocations by PMI (CorpusStats) --------------------
    // adjacent-pair pointwise mutual information — linear in corpus size,
    // never a co-occurrence pair explosion
    QuerySpec("q263_pmi", ((s, dir) => {
      CorpusStats.pmiCollocations(read(s, dir, "documents"), "text",
          k = 20, minCount = 5)
        .select(col("w1"), col("w2"), col("count"),
          (round(col("pmi"), 6) + lit(0.0)).as("pmi"),
          (round(col("npmi"), 6) + lit(0.0)).as("npmi"))
        .gateOrdered(col("count").desc, col("w1"), col("w2"))
    }),
      // adjacent bigram + unigram counts -> PMI/NPMI for the top-20
      // (count desc, bigram asc) qualifying pairs
      """WITH t AS (SELECT list_filter(
               regexp_split_to_array(trim(lower(text)), '\s+'),
               x -> len(x) > 0) toks
           FROM documents),
         bi AS (SELECT unnest(list_transform(range(1, len(toks)),
                  i -> toks[i] || ' ' || toks[i + 1])) bigram
               FROM t WHERE len(toks) >= 2),
         bc AS (SELECT bigram, count(*)::BIGINT c12 FROM bi GROUP BY 1),
         un AS (SELECT unnest(toks) term FROM t),
         uc AS (SELECT term, count(*)::BIGINT cu FROM un GROUP BY 1),
         tot AS (SELECT (SELECT sum(c12) FROM bc)::BIGINT nb,
                   (SELECT sum(cu) FROM uc)::BIGINT nu),
         top AS (SELECT bigram, c12, split_part(bigram, ' ', 1) w1,
                   split_part(bigram, ' ', 2) w2
                 FROM bc WHERE c12 >= 5
                 ORDER BY c12 DESC, bigram ASC LIMIT 20)
         SELECT w1, w2, c12 AS "count",
           round(ln((c12 / nb::DOUBLE)
             / ((u1.cu / nu::DOUBLE) * (u2.cu / nu::DOUBLE))), 6) + 0.0
             AS pmi,
           (CASE WHEN -ln(c12 / nb::DOUBLE) > 0 THEN
             round(ln((c12 / nb::DOUBLE)
               / ((u1.cu / nu::DOUBLE) * (u2.cu / nu::DOUBLE)))
               / (-ln(c12 / nb::DOUBLE)), 6) END) + 0.0 AS npmi
         FROM top JOIN uc u1 ON u1.term = top.w1
           JOIN uc u2 ON u2.term = top.w2 CROSS JOIN tot
         ORDER BY "count" DESC, w1, w2"""),

    // ---- ranked-retrieval eval: per-query NDCG@10 / AP / RR (Search) ------
    // brand recommendations from first-half spend, judged against
    // second-half purchases: ranks on the ROUNDED H1 revenue (brand-asc
    // tiebreak — the repo's deterministic-ranking pattern), graded
    // relevance = H2 purchase count capped at 4
    QuerySpec("q276_ndcg", ((s, dir) => {
      val (res, rel) = brandRecEval(s, dir)
      Search.rankingMetrics(res, rel, "c", "b", "r", "rel", k = 10)
        .select(col("c").as("custkey"), col("n_ranked"), col("n_rel"),
          (round(col("dcg"), 6) + lit(0.0)).as("dcg"),
          (round(col("idcg"), 6) + lit(0.0)).as("idcg"),
          (round(col("ndcg"), 6) + lit(0.0)).as("ndcg"),
          (round(col("ap"), 6) + lit(0.0)).as("ap"),
          (round(col("rr"), 6) + lit(0.0)).as("rr"))
        .gateOrdered(col("custkey"))
    }),
      // trec_eval conventions: graded gain (2^rel-1)/log2(r+1), IDCG from
      // grades sorted desc truncated at k, AP denominator min(R, k), NULL
      // metrics for queries with nothing relevant
      (rankingEvalSql + """
         SELECT c AS custkey, n_ranked, n_rel,
           round(dcg, 6) + 0.0 AS dcg, round(idcg, 6) + 0.0 AS idcg,
           round(ndcg, 6) + 0.0 AS ndcg, round(ap, 6) + 0.0 AS ap,
           round(rr, 6) + 0.0 AS rr
         FROM m""")),

    // ---- Heaps'-law vocabulary growth fit (CorpusStats) -------------------
    // first-occurrence curve over the doc_id-ordered token stream at 10
    // checkpoints + the closed-form log-log OLS. The synthetic corpus's
    // 31-token vocabulary saturates before the first checkpoint (flat
    // curve, fit undefined), so the query appends one per-doc unique
    // token — the id-minting corpus shape the operator exists to flag
    QuerySpec("q285_heaps_law", ((s, dir) => {
      val docs = read(s, dir, "documents")
        .withColumn("text", concat(col("text"), lit(" uid"), col("doc_id")))
      CorpusStats.heapsLaw(docs, "doc_id", "text", checkpoints = 10)
        .select(col("i"), col("n_prefix"), col("v_types"),
          (round(col("beta"), 6) + lit(0.0)).as("beta"),
          (round(col("log_k"), 6) + lit(0.0)).as("log_k"),
          (round(col("r2"), 6) + lit(0.0)).as("r2"))
        .gateOrdered(col("i"))
    }),
      // same doc_id-ordered token positions, first-occurrence minima,
      // checkpoint prefix counts and log-log OLS
      """WITH t AS (SELECT doc_id,
                  list_filter(regexp_split_to_array(trim(lower(
                    text || ' uid' || doc_id::VARCHAR)), '\s+'),
                    x -> len(x) > 0) toks
                FROM documents),
         d AS (SELECT doc_id, toks, len(toks) len FROM t),
         o AS (SELECT doc_id, toks,
                 coalesce(sum(len) OVER (ORDER BY doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) doff
               FROM d),
         tok AS (SELECT doff + i gpos, toks[i] term
                FROM o, unnest(range(1, len(toks) + 1)) r(i)),
         fo AS (SELECT term, min(gpos) fp FROM tok GROUP BY 1),
         nt AS (SELECT sum(len)::BIGINT n FROM d),
         spine AS (SELECT i::INT i, (i * n) // 10 np
                FROM nt, unnest(range(1, 11)) s(i)),
         curve AS (SELECT s.i, s.np, count(fo.term)::BIGINT v
                FROM spine s LEFT JOIN fo ON fo.fp <= s.np GROUP BY 1, 2),
         pts AS (SELECT ln(np::DOUBLE) x, ln(v::DOUBLE) y FROM curve
                WHERE np > 0 AND v > 0),
         mm AS (SELECT avg(x) mx, avg(y) my FROM pts),
         ss AS (SELECT sum((x - mx) * (x - mx)) sxx,
                 sum((x - mx) * (y - my)) sxy,
                 sum((y - my) * (y - my)) syy
               FROM pts, mm),
         fit AS (SELECT CASE WHEN sxx > 0 AND syy > 0 THEN sxy / sxx END beta,
                 CASE WHEN sxx > 0 AND syy > 0 THEN my - sxy / sxx * mx END lk,
                 CASE WHEN sxx > 0 AND syy > 0
                   THEN sxy * sxy / (sxx * syy) END r2
               FROM ss, mm)
         SELECT i, np AS n_prefix, v AS v_types,
           round(beta, 6) + 0.0 AS beta, round(lk, 6) + 0.0 AS log_k,
           round(r2, 6) + 0.0 AS r2
         FROM curve, fit ORDER BY i"""),

    // ---- Gopher quality-rule panel: per-rule pass counts (Curation) -------
    // the published MassiveText thresholds as codegen'd projections; one
    // summary row of per-rule pass counts
    QuerySpec("q319_gopher_rules", ((s, dir) => {
      graft.operators.Curation
        .gopherQualityFlags(read(s, dir, "documents")
          .filter(col("text").isNotNull), "doc_id", "text")
        .agg(count(lit(1)).as("n_docs"),
          sum(col("pass_words").cast("int")).as("pass_words"),
          sum(col("pass_mean_word").cast("int")).as("pass_mean_word"),
          sum(col("pass_symbol").cast("int")).as("pass_symbol"),
          sum(col("pass_bullet").cast("int")).as("pass_bullet"),
          sum(col("pass_ellipsis").cast("int")).as("pass_ellipsis"),
          sum(col("pass_alpha").cast("int")).as("pass_alpha"),
          sum(col("pass_stopwords").cast("int")).as("pass_stopwords"),
          sum(col("pass").cast("int")).as("pass_all"),
          (round(avg(col("mean_word_len")), 6) + lit(0.0))
            .as("avg_mean_word_len"))
    }),
      // identical counting conventions: \s+ tokens of the trimmed lowered
      // text, chr(10) lines, replace-based symbol counts
      """WITH d AS (SELECT doc_id, text, lower(trim(text)) lt FROM documents
                WHERE text IS NOT NULL),
         s AS (SELECT doc_id, text,
                 list_filter(regexp_split_to_array(lt, '\s+'),
                   w -> len(w) > 0) toks,
                 string_split(text, chr(10)) ls
               FROM d),
         sig AS (SELECT len(toks) nw,
                 CASE WHEN len(toks) = 0 THEN 0.0
                   ELSE len(regexp_replace(lower(trim(text)), '\s+', '',
                     'g'))::DOUBLE / len(toks) END mw,
                 (len(text) - len(replace(text, '#', ''))
                   + len(text) - len(replace(text, '…', ''))
                   + (len(text) - len(replace(text, '...', ''))) / 3.0)
                   / greatest(len(toks), 1) sym,
                 len(list_filter(ls, l -> regexp_matches(trim(l),
                   '^[-*•‣▪]')))::DOUBLE / greatest(len(ls), 1) bf,
                 len(list_filter(ls, l -> regexp_matches(trim(l),
                   '(\.\.\.|…)$')))::DOUBLE / greatest(len(ls), 1) ef,
                 len(list_filter(toks, w -> regexp_matches(w,
                   '\p{L}')))::DOUBLE / greatest(len(toks), 1) af,
                 len(list_intersect(toks, ['the', 'be', 'to', 'of', 'and',
                   'that', 'have', 'with'])) sh
               FROM s)
         SELECT count(*)::BIGINT n_docs,
           sum(CASE WHEN nw >= 50 AND nw <= 100000 THEN 1 ELSE 0
             END)::BIGINT pass_words,
           sum(CASE WHEN mw >= 3 AND mw <= 10 THEN 1 ELSE 0
             END)::BIGINT pass_mean_word,
           sum(CASE WHEN sym < 0.1 THEN 1 ELSE 0 END)::BIGINT pass_symbol,
           sum(CASE WHEN bf < 0.9 THEN 1 ELSE 0 END)::BIGINT pass_bullet,
           sum(CASE WHEN ef < 0.3 THEN 1 ELSE 0 END)::BIGINT pass_ellipsis,
           sum(CASE WHEN af > 0.8 THEN 1 ELSE 0 END)::BIGINT pass_alpha,
           sum(CASE WHEN sh >= 2 THEN 1 ELSE 0 END)::BIGINT pass_stopwords,
           sum(CASE WHEN nw >= 50 AND nw <= 100000 AND mw >= 3 AND mw <= 10
             AND sym < 0.1 AND bf < 0.9 AND ef < 0.3 AND af > 0.8
             AND sh >= 2 THEN 1 ELSE 0 END)::BIGINT pass_all,
           round(avg(mw), 6) + 0.0 AS avg_mean_word_len
         FROM sig"""),

    // ---- C4 line filter over synthesized line structure (Curation) --------
    // the corpus has no newlines, so the query manufactures them with a
    // deterministic replace; the operator's keep/drop rules do the rest
    QuerySpec("q320_c4_filter", ((s, dir) => {
      val docs = read(s, dir, "documents").filter(col("text").isNotNull)
        .withColumn("text2", replace(col("text"), lit(" table "), lit(".\n")))
      graft.operators.Curation.c4LineFilter(docs, "doc_id", "text2")
        .select(col("doc_id"), col("n_lines"), col("n_kept"),
          md5(col("text_clean")).as("clean_md5"))
        .gateOrdered(col("doc_id"))
    }),
      // the same synthesized '.\n' line structure, then the C4 keep rules
      // per line and doc-level lorem/brace drops
      """WITH d AS (SELECT doc_id,
                  replace(text, ' table ', '.' || chr(10)) t
                FROM documents WHERE text IS NOT NULL),
         f AS (SELECT doc_id, lower(t) low FROM d
               WHERE lower(t) NOT LIKE '%lorem ipsum%'
                 AND lower(t) NOT LIKE '%{%'),
         k AS (SELECT doc_id, string_split(low, chr(10)) ls,
                 list_filter(string_split(low, chr(10)), l ->
                   regexp_matches(trim(l), '[.!?"”]$')
                   AND len(regexp_split_to_array(trim(l), '\s+')) >= 5
                   AND l NOT LIKE '%javascript%') kept
               FROM f)
         SELECT doc_id, len(ls) AS n_lines, len(kept) AS n_kept,
           md5(array_to_string(kept, chr(10))) AS clean_md5
         FROM k WHERE len(kept) > 0 ORDER BY doc_id"""),

    // ---- inequality panel over per-user event loads (CorpusStats) ---------
    // Theil/Atkinson/CV2 from one moment pass on the keyed count table
    QuerySpec("q331_inequality", ((s, dir) => {
      val perUser = EventsSource.read(s, s"$dir/events.parquet")
        .filter(col("user_id").isNotNull)
        .groupBy(col("user_id")).agg(count(lit(1)).as("c"))
      CorpusStats.inequalityPanel(perUser, "c")
        .select(col("n"),
          (round(col("mean"), 6) + lit(0.0)).as("mean"),
          (round(col("theil_t"), 6) + lit(0.0)).as("theil_t"),
          (round(col("atkinson_1"), 6) + lit(0.0)).as("atkinson_1"),
          (round(col("cv2"), 6) + lit(0.0)).as("cv2"))
    }),
      // one moment pass over the positive per-user loads
      """WITH u AS (SELECT count(*)::DOUBLE x FROM events
                WHERE user_id IS NOT NULL GROUP BY user_id),
         m AS (SELECT count(*)::BIGINT n, sum(x) sx, sum(x * ln(x)) sxlx,
                 sum(ln(x)) slx, sum(x * x) sxx
               FROM u WHERE x > 0)
         SELECT n, round(sx / n, 6) + 0.0 AS mean,
           round(sxlx / sx - ln(sx / n), 6) + 0.0 AS theil_t,
           round(1 - exp(slx / n) / (sx / n), 6) + 0.0 AS atkinson_1,
           round(((sxx - sx * (sx / n)) / (n - 1)) / pow(sx / n, 2), 6)
             + 0.0 AS cv2
         FROM m"""),

    // ---- Kneser-Ney bigram LM perplexity by language (CorpusStats) --------
    // train on even docs, score odd docs: the perplexity-filtering signal;
    // every probability is a ratio of exact counts, replayed bit-identically
    QuerySpec("q298_kn_bigram", ((s, dir) => {
      val docs = read(s, dir, "documents").filter(col("lang").isNotNull)
      CorpusStats.knBigramPerplexity(
          docs.filter(col("doc_id") % 2 === 0),
          docs.filter(col("doc_id") % 2 === 1),
          "doc_id", "text", "lang")
        .select(col("lang"), col("n_docs"), col("n_bigrams"),
          (round(col("avg_nll"), 6) + lit(0.0)).as("avg_nll"),
          (round(col("ppl"), 4) + lit(0.0)).as("ppl"))
        .gateOrdered(col("lang"))
    }),
      // identical bigram extraction (toks[i], toks[i+1]), count tables,
      // interpolated-KN formula with the same discount and floor
      """WITH dd AS (SELECT doc_id, lang,
                  list_filter(regexp_split_to_array(trim(lower(text)), '\s+'),
                    x -> len(x) > 0) toks
                FROM documents WHERE lang IS NOT NULL),
         tb AS (SELECT toks[i] v, toks[i+1] w
                FROM dd, unnest(range(1, len(toks))) r(i)
                WHERE doc_id % 2 = 0),
         bc AS (SELECT v, w, count(*)::BIGINT cvw FROM tb GROUP BY 1, 2),
         ctx AS (SELECT v, sum(cvw)::BIGINT cv, count(*)::BIGINT n1v
                FROM bc GROUP BY 1),
         tot AS (SELECT count(*)::BIGINT tbn FROM bc),
         cont AS (SELECT w, count(*)::DOUBLE / (SELECT tbn FROM tot) pc
                FROM bc GROUP BY 1),
         te AS (SELECT doc_id, lang, toks[i] v, toks[i+1] w
                FROM dd, unnest(range(1, len(toks))) r(i)
                WHERE doc_id % 2 = 1),
         j AS (SELECT te.doc_id, te.lang,
                 greatest(CASE WHEN ctx.cv IS NOT NULL AND ctx.cv > 0 THEN
                     (greatest(coalesce(bc.cvw, 0)::DOUBLE - 0.75, 0)
                      + 0.75 * ctx.n1v * coalesce(cont.pc, 0)) / ctx.cv
                   ELSE coalesce(cont.pc, 0) END, 1e-10) p
               FROM te
               LEFT JOIN bc ON te.v = bc.v AND te.w = bc.w
               LEFT JOIN ctx ON te.v = ctx.v
               LEFT JOIN cont ON te.w = cont.w)
         SELECT lang, count(DISTINCT doc_id)::BIGINT AS n_docs,
           count(*)::BIGINT AS n_bigrams,
           round(avg(-ln(p)), 6) + 0.0 AS avg_nll,
           round(exp(avg(-ln(p))), 4) + 0.0 AS ppl
         FROM j GROUP BY 1 ORDER BY 1"""),

    // ---- corpus-level MAP / MRR / mean-NDCG over the same eval ------------
    // trec_eval convention: queries with no relevant documents are NULL
    // per-query and excluded from the means (avg ignores NULLs on both
    // engines)
    QuerySpec("q277_map_mrr", ((s, dir) => {
      val (res, rel) = brandRecEval(s, dir)
      Search.rankingMetrics(res, rel, "c", "b", "r", "rel", k = 10)
        .agg(count(lit(1)).as("n_queries"),
          count(col("ndcg")).as("n_judged"),
          (round(avg(col("ndcg")), 6) + lit(0.0)).as("mean_ndcg"),
          (round(avg(col("ap")), 6) + lit(0.0)).as("map"),
          (round(avg(col("rr")), 6) + lit(0.0)).as("mrr"))
    }),
      (rankingEvalSql + """
         SELECT count(*)::BIGINT AS n_queries, count(ndcg)::BIGINT AS n_judged,
           round(avg(ndcg), 6) + 0.0 AS mean_ndcg,
           round(avg(ap), 6) + 0.0 AS map,
           round(avg(rr), 6) + 0.0 AS mrr
         FROM m""")),

    // ---- OOV rate vs a reference vocabulary (CorpusStats) -----------------
    // top-500 English terms as the vocab; per-language coverage gate
    QuerySpec("q241_oov_rate", ((s, dir) => {
      val docs = read(s, dir, "documents")
      val ref = docs.filter(col("lang") === "en")
        .select(explode(TextFunctions.tokens(col("text"))).as("term"))
        .groupBy(col("term")).agg(count(lit(1)).as("cnt"))
        .orderBy(col("cnt").desc, col("term").asc).limit(500)
      CorpusStats.oovRate(docs, "text", "lang", ref, "term")
        .select(col("lang"), col("n_tokens"), col("n_oov"),
          (round(col("oov_rate"), 6) + lit(0.0)).as("oov_rate"))
        .orderBy(col("lang"))
    }),
      // top-500 en vocabulary (count desc, term asc — deterministic cut),
      // per-lang token coverage; same q72-convention tokenizer
      """WITH toks AS (SELECT lang,
             unnest(list_filter(regexp_split_to_array(trim(lower(text)), '\s+'),
               x -> len(x) > 0)) AS term
           FROM documents WHERE lang IS NOT NULL),
         ref AS (SELECT term FROM (
             SELECT term, count(*) AS cnt FROM toks WHERE lang = 'en'
             GROUP BY 1 ORDER BY cnt DESC, term ASC LIMIT 500)),
         m AS (SELECT t.lang, t.term, (r.term IS NULL) AS oov
               FROM toks t LEFT JOIN ref r ON t.term = r.term)
         SELECT lang, count(*)::BIGINT AS n_tokens,
           sum(CASE WHEN oov THEN 1 ELSE 0 END)::BIGINT AS n_oov,
           round(sum(CASE WHEN oov THEN 1 ELSE 0 END) / count(*)::DOUBLE, 6)
             + 0.0 AS oov_rate
         FROM m GROUP BY lang ORDER BY lang"""),

    // ---- trending terms between snapshots --------------------------------
    QuerySpec("q115_trending_terms", ((s, dir) => {
      val docs = read(s, dir, "documents")
      CorpusStats.trendingTerms(docs.filter(col("doc_id") % 2 === 0),
        docs.filter(col("doc_id") % 2 =!= 0), "text", k = 50)
    }),
      // Smoothed log rate ratio per term between snapshot halves; the
      // 6-dp-rounded score is the ranking key on both engines so the k
      // boundary survives last-ulp ln() differences
      """WITH t AS (
           SELECT doc_id % 2 = 0 AS is_a,
                  unnest(list_filter(regexp_split_to_array(trim(lower(text)), '\s+'),
                    x -> len(x) > 0)) AS term
           FROM documents),
         c AS (SELECT term, count(*) FILTER (WHERE is_a) AS n_a,
                      count(*) FILTER (WHERE NOT is_a) AS n_b
               FROM t GROUP BY term),
         tot AS (SELECT sum(n_a) AS ta, sum(n_b) AS tb FROM c),
         s AS (SELECT term, n_a, n_b,
                 round(ln(((n_b + 1) / (tb + 1)) / ((n_a + 1) / (ta + 1))), 6) AS score
               FROM c CROSS JOIN tot)
         SELECT term, n_a::BIGINT AS n_a, n_b::BIGINT AS n_b, score
         FROM s ORDER BY score DESC, term LIMIT 50"""),

    // ---- categorical diversity per source -------------------------------
    QuerySpec("q129_source_entropy", ((s, dir) => {
      CorpusStats.categoricalDiversity(read(s, dir, "documents"),
          "source", "lang")
        .select(col("group"), col("n_rows"), col("n_categories"),
          round(col("entropy"), 6).as("entropy"),
          round(col("gini"), 6).as("gini"))
        .orderBy(col("group"))
    }),
      // Shannon entropy (nats) + Gini over each source's language mix;
      // shares from exact integer counts, terms rounded 6dp
      """WITH c AS (SELECT source, lang, count(*) AS n FROM documents
                    WHERE source IS NOT NULL AND lang IS NOT NULL
                    GROUP BY 1, 2),
         t AS (SELECT source, sum(n) AS tot FROM c GROUP BY source)
         SELECT c.source AS "group", t.tot::BIGINT AS n_rows,
                count(*)::BIGINT AS n_categories,
                round(-sum((n / tot) * ln(n / tot)), 6) AS entropy,
                round(1.0 - sum((n / tot) * (n / tot)), 6) AS gini
         FROM c JOIN t USING (source)
         GROUP BY c.source, t.tot ORDER BY "group""""),

    // ---- corpus-level shingle overlap -----------------------------------
    QuerySpec("q130_corpus_overlap", ((s, dir) => {
      val docs = read(s, dir, "documents")
      CorpusStats.corpusOverlap(docs.filter(col("doc_id") % 2 === 0),
        docs.filter(col("doc_id") % 2 =!= 0), "text", shingleSize = 3)
    }),
      // Distinct 3-shingle sets per half (hashes Spark-side ≡ strings
      // oracle-side, q88's established equivalence), set-overlap counts
      """WITH t AS (
           SELECT doc_id, list_filter(regexp_split_to_array(trim(lower(text)), '\s+'),
                  x -> len(x) > 0) AS toks
           FROM documents),
         s AS (
           SELECT doc_id, list_distinct(list_transform(range(1, len(toks) - 1),
                  i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS sh
           FROM t WHERE len(toks) >= 3),
         ga AS (SELECT DISTINCT unnest(sh) AS g FROM s WHERE doc_id % 2 = 0),
         gb AS (SELECT DISTINCT unnest(sh) AS g FROM s WHERE doc_id % 2 <> 0)
         SELECT n_a::BIGINT AS n_a, n_b::BIGINT AS n_b,
                n_i::BIGINT AS n_intersect,
                (n_a + n_b - n_i)::BIGINT AS n_union,
                round(n_i::DOUBLE / (n_a + n_b - n_i), 6) AS jaccard
         FROM (SELECT (SELECT count(*) FROM ga) AS n_a,
                      (SELECT count(*) FROM gb) AS n_b,
                      (SELECT count(*) FROM ga JOIN gb USING (g)) AS n_i)"""),

    // ---- sentence segmentation stats ------------------------------------
    QuerySpec("q135_sentence_stats", ((s, dir) => {
      read(s, dir, "documents")
        .select(col("doc_id"),
          TextFunctions.sentenceCount(col("text")).as("n_sentences"),
          TextFunctions.tokenCount(col("text")).as("n_words"))
        .withColumn("words_per_sentence",
          when(col("n_sentences") > 0,
            round(col("n_words").cast("double") / col("n_sentences"), 4)))
        .orderBy(col("doc_id"))
    }),
      // Sentence contract mirror: split on [.!?]+ runs, count segments with
      // an ASCII alphanumeric; words from the shared tokenizer mirror
      """WITH t AS (
           SELECT doc_id,
             len(list_filter(regexp_split_to_array(text, '[.!?]+'),
               s -> regexp_matches(s, '[A-Za-z0-9]'))) AS n_sentences,
             len(list_filter(regexp_split_to_array(trim(lower(text)), '\s+'),
               x -> len(x) > 0)) AS n_words
           FROM documents)
         SELECT doc_id, n_sentences::INT AS n_sentences, n_words::INT AS n_words,
                CASE WHEN n_sentences > 0
                     THEN round(n_words::DOUBLE / n_sentences, 4) END
                  AS words_per_sentence
         FROM t ORDER BY doc_id"""),

    // ---- readability scoring --------------------------------------------
    QuerySpec("q136_readability", ((s, dir) => {
      read(s, dir, "documents")
        .select(col("doc_id"),
          round(TextFunctions.readingEase(col("text")), 4).as("reading_ease"))
        .gateOrdered(col("doc_id"))
    }),
      // Flesch proxy: same sentence/word mirrors + [aeiouy]+ vowel-group
      // count (regexp_extract_all ≡ regexp_count, non-overlapping greedy)
      """WITH t AS (
           SELECT doc_id,
             len(list_filter(regexp_split_to_array(text, '[.!?]+'),
               s -> regexp_matches(s, '[A-Za-z0-9]'))) AS s,
             len(list_filter(regexp_split_to_array(trim(lower(text)), '\s+'),
               x -> len(x) > 0)) AS w,
             len(regexp_extract_all(lower(text), '[aeiouy]+')) AS v
           FROM documents)
         SELECT doc_id,
                CASE WHEN s > 0 AND w > 0
                     THEN round(206.835 - 1.015 * (w::DOUBLE / s)
                                - 84.6 * (v::DOUBLE / w), 4) END
                  AS reading_ease
         FROM t ORDER BY doc_id"""),

    // ---- winnowed (MOSS) document signatures ----------------------------
    QuerySpec("q143_winnow", ((s, dir) => {
      // signature size + extremal fingerprints pin the selected-hash SET
      // per document cross-engine, not just its cardinality
      CorpusStats.winnowedFingerprints(read(s, dir, "documents"),
          "doc_id", "text", k = 3, window = 4)
        .groupBy(col("id").as("doc_id"))
        .agg(count(lit(1)).as("n_fps"),
          min(col("fp")).as("min_fp"), max(col("fp")).as("max_fp"))
        .gateOrdered(col("doc_id"))
    }),
      // Winnowing re-derived in SQL: same md5 k-gram hashes (k=3), same
      // w=4 window minima (1-based positions here, 0-based in Spark — the
      // complete-window filters pos <= m-3 / pos <= m-4 are equivalent),
      // same distinct-per-doc signature; min/max pin the actual hash values
      """WITH t AS (
           SELECT doc_id, list_filter(regexp_split_to_array(trim(lower(text)), '\s+'),
                  x -> len(x) > 0) AS toks
           FROM documents),
         s AS (
           SELECT doc_id, list_transform(range(1, len(toks) - 1),
                  i -> md5(toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS hs
           FROM t WHERE len(toks) >= 3),
         e AS (
           SELECT doc_id, len(hs) AS m,
                  unnest(list_transform(range(1, len(hs) + 1),
                    i -> struct_pack(pos := i, h := hs[i]))) AS u
           FROM s WHERE len(hs) >= 4),
         w AS (
           SELECT doc_id, m, u.pos AS pos,
                  min(u.h) OVER (PARTITION BY doc_id ORDER BY u.pos
                    ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS fp
           FROM e),
         f AS (SELECT DISTINCT doc_id, fp FROM w WHERE pos <= m - 3)
         SELECT doc_id, count(*) AS n_fps, min(fp) AS min_fp, max(fp) AS max_fp
         FROM f GROUP BY doc_id ORDER BY doc_id"""),

    // ---- embedding-space decontamination --------------------------------
    QuerySpec("q144_embed_decontam", ((s, dir) => {
      // test = vec_id < 20; train side includes vec_id 10–19 verbatim, so
      // exactly those rows must flag at cosine ≈ 1 (threshold 0.8 sits in
      // the [0.50, 1.0] gap of the max-cosine distribution — boundary-safe)
      val emb = read(s, dir, "embeddings")
      Decontaminate.embeddingOverlap(
          emb.filter(col("vec_id") >= 10), "vec_id", "embedding",
          emb.filter(col("vec_id") < 20), "embedding",
          threshold = 0.8)
        .select(col("id"), round(col("max_cosine"), 4).as("max_cosine"),
          col("contaminated"))
        .gateOrdered(col("id"))
    }),
      // Exact max-cosine per train vector over the broadcast test set
      """SELECT t.vec_id AS id,
                round(max(list_cosine_similarity(
                  t.embedding::DOUBLE[], q.embedding::DOUBLE[])), 4) AS max_cosine,
                max(list_cosine_similarity(
                  t.embedding::DOUBLE[], q.embedding::DOUBLE[])) >= 0.8 AS contaminated
         FROM (SELECT * FROM embeddings WHERE vec_id >= 10) t
         CROSS JOIN (SELECT * FROM embeddings WHERE vec_id < 20) q
         GROUP BY t.vec_id ORDER BY id"""),

    // ---- char-LM perplexity quality scoring -----------------------------
    QuerySpec("q145_charlm_score", ((s, dir) => {
      // LM trained on the English slice, every document scored against it —
      // the CCNet-style perplexity filter; non-English docs score high nll
      val docs = read(s, dir, "documents")
      val lm = CorpusStats.charLmCounts(docs.filter(col("lang") === "en"), "text", n = 3)
      CorpusStats.charLmScore(docs, "doc_id", "text", lm, n = 3)
        .select(col("id").as("doc_id"), col("n_grams"),
          round(col("avg_nll"), 4).as("avg_nll"))
        .gateOrdered(col("doc_id"))
    }),
      // Char-trigram LM re-derived in SQL: same ASCII normalization
      // (strip-then-lower — [A-Za-z] kept, all else one space), same add-1
      // smoothed conditional P(c3|c1c2) with vocab 27, natural log in both
      """WITH nd AS (
           SELECT doc_id, lang,
                  trim(lower(regexp_replace(text, '[^A-Za-z]+', ' ', 'g'))) AS norm
           FROM documents),
         g AS (
           SELECT doc_id,
                  unnest(list_transform(range(1, greatest(len(norm) - 2, 0) + 1),
                    i -> substr(norm, i, 3))) AS gram
           FROM nd),
         ref AS (
           SELECT gram, count(*) AS gc
           FROM (SELECT unnest(list_transform(range(1, greatest(len(norm) - 2, 0) + 1),
                   i -> substr(norm, i, 3))) AS gram
                 FROM nd WHERE lang = 'en')
           GROUP BY gram),
         pre AS (
           SELECT substr(gram, 1, 2) AS prefix, sum(gc) AS pc
           FROM ref GROUP BY 1),
         scored AS (
           SELECT g.doc_id, count(*) AS n_grams,
                  avg(-ln((coalesce(ref.gc, 0) + 1.0) /
                          (coalesce(pre.pc, 0) + 27.0))) AS nll
           FROM g LEFT JOIN ref ON g.gram = ref.gram
                  LEFT JOIN pre ON substr(g.gram, 1, 2) = pre.prefix
           GROUP BY g.doc_id)
         SELECT d.doc_id, coalesce(s.n_grams, 0)::BIGINT AS n_grams,
                round(s.nll, 4) AS avg_nll
         FROM documents d LEFT JOIN scored s ON d.doc_id = s.doc_id
         ORDER BY d.doc_id"""),

    // ---- tokenizer fertility per language -------------------------------
    QuerySpec("q159_fertility", ((s, dir) => {
      CorpusStats.tokenizerFertility(read(s, dir, "documents"), "lang", "text")
        .orderBy(col("lang"))
    }),
      // Words via \s+ tokens, subwords via the q27 lookaround-free transition
      // mirror; fertility on the exact integer sums
      """WITH t AS (
           SELECT lang,
                  len(list_filter(regexp_split_to_array(trim(lower(text)), '\s+'),
                      x -> len(x) > 0)) AS nw,
                  len(list_filter(regexp_split_to_array(
                      regexp_replace(regexp_replace(lower(trim(text)),
                        '(\pL)(\pN)', '\1 \2', 'g'), '(\pN)(\pL)', '\1 \2', 'g'),
                      '[^\pL\pN]+'), x -> len(x) > 0)) AS ns
           FROM documents)
         SELECT lang, count(*)::BIGINT AS n_docs, sum(nw)::BIGINT AS n_words,
                sum(ns)::BIGINT AS n_subwords,
                CASE WHEN sum(nw) > 0
                     THEN round(sum(ns)::DOUBLE / sum(nw)::DOUBLE, 4) END AS fertility
         FROM t GROUP BY lang ORDER BY lang"""),

    // ---- winnow candidate pairs (MOSS overlap report) -------------------
    QuerySpec("q167_winnow_pairs", ((s, dir) => {
      CorpusStats.winnowCandidates(read(s, dir, "documents"),
          "doc_id", "text", k = 3, window = 4, minShared = 2)
        .select(col("id_a"), col("id_b"), col("n_shared"))
        .gateOrdered(col("id_a"), col("id_b"))
    }),
      // q143's winnowed signatures self-joined on the fingerprint: pairs
      // sharing >= 2 selected hashes, with the shared count
      """WITH t AS (
           SELECT doc_id, list_filter(regexp_split_to_array(trim(lower(text)), '\s+'),
                  x -> len(x) > 0) AS toks
           FROM documents),
         s AS (
           SELECT doc_id, list_transform(range(1, len(toks) - 1),
                  i -> md5(toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS hs
           FROM t WHERE len(toks) >= 3),
         e AS (
           SELECT doc_id, len(hs) AS m,
                  unnest(list_transform(range(1, len(hs) + 1),
                    i -> struct_pack(pos := i, h := hs[i]))) AS u
           FROM s WHERE len(hs) >= 4),
         w AS (
           SELECT doc_id, m, u.pos AS pos,
                  min(u.h) OVER (PARTITION BY doc_id ORDER BY u.pos
                    ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS fp
           FROM e),
         f AS (SELECT DISTINCT doc_id, fp FROM w WHERE pos <= m - 3)
         SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*)::BIGINT AS n_shared
         FROM f a JOIN f b ON a.fp = b.fp AND a.doc_id < b.doc_id
         GROUP BY 1, 2 HAVING count(*) >= 2
         ORDER BY id_a, id_b"""),

    // ---- packing efficiency report --------------------------------------
    QuerySpec("q96_packing_stats", ((s, dir) => {
      val packed = Packing.packByBudget(
        read(s, dir, "documents").select(col("doc_id"), col("n_chars")),
        "doc_id", "n_chars", budget = 65536, blockSize = 512)
      Packing.packingStats(packed, "n_chars", budget = 65536)
        .select(col("pack_id"), col("n_docs"), col("total_size"),
          round(col("fill"), 4).as("fill"))
        .orderBy(col("pack_id"))
    }),
      // Per-pack rollup of the q47 offset-packing construction
      """WITH p AS (
           SELECT doc_id, n_chars, (start_offset // 65536)::BIGINT AS pack_id
           FROM (SELECT doc_id, n_chars,
                   coalesce(sum(n_chars) OVER (ORDER BY doc_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)::BIGINT
                     AS start_offset
                 FROM documents) t)
         SELECT pack_id, count(*)::BIGINT AS n_docs,
                sum(n_chars)::BIGINT AS total_size,
                round(sum(n_chars)::DOUBLE / 65536, 4) AS fill
         FROM p GROUP BY pack_id ORDER BY pack_id"""),

    // ---- Zipf head-vocabulary fit ---------------------------------------
    QuerySpec("q95_zipf_fit", ((s, dir) => {
      CorpusStats.zipfFit(read(s, dir, "documents"), "text", topK = 1000)
        .select(col("n_terms"), round(col("slope"), 4).as("slope"),
          round(col("intercept"), 4).as("intercept"),
          round(col("r2"), 4).as("r2"))
    }),
      // Zipf fit: identical rank construction (count desc, term asc) and
      // natural-log regression on both engines
      """WITH t AS (
           SELECT list_filter(regexp_split_to_array(trim(lower(text)), '\s+'),
                  x -> len(x) > 0) AS toks
           FROM documents),
         ex AS (SELECT unnest(toks) AS term FROM t),
         c AS (SELECT term, count(*) AS c FROM ex GROUP BY term),
         top AS (SELECT term, c FROM c ORDER BY c DESC, term LIMIT 1000),
         r AS (SELECT c, row_number() OVER (ORDER BY c DESC, term) AS rank
               FROM top)
         SELECT count(*)::BIGINT AS n_terms,
                round(regr_slope(ln(c), ln(rank)), 4) AS slope,
                round(regr_intercept(ln(c), ln(rank)), 4) AS intercept,
                round(regr_r2(ln(c), ln(rank)), 4) AS r2
         FROM r"""),

    // ---- contamination pair attribution ---------------------------------
    QuerySpec("q93_contamination_pairs", ((s, dir) => {
      // q48's fixture: eval set = every 20th doc; report which eval doc
      // each train doc shares >= 2 distinct word-3-grams with
      val docs = read(s, dir, "documents")
      Decontaminate.contaminationPairs(
          docs.filter(col("doc_id") % 20 =!= 0), "doc_id", "text",
          docs.filter(col("doc_id") % 20 === 0), "doc_id", "text",
          shingleSize = 3, minShared = 2)
        .gateOrdered(col("train_id"), col("test_id"))
    }),
      // Pair attribution over the q48 shingle construction: distinct
      // 3-gram intersection counts per (train, eval) pair
      """WITH t AS (
           SELECT doc_id, list_filter(regexp_split_to_array(trim(lower(text)), '\s+'),
                  x -> len(x) > 0) AS toks
           FROM documents),
         s AS (
           SELECT doc_id, list_distinct(list_transform(range(1, len(toks) - 1),
                  i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS sh
           FROM t WHERE len(toks) >= 3),
         te AS (SELECT doc_id AS test_id, unnest(sh) AS g FROM s WHERE doc_id % 20 = 0),
         tr AS (SELECT doc_id AS train_id, unnest(sh) AS g FROM s WHERE doc_id % 20 <> 0)
         SELECT train_id, test_id, count(*)::BIGINT AS n_shared
         FROM tr JOIN te USING (g)
         GROUP BY train_id, test_id
         HAVING count(*) >= 2
         ORDER BY train_id, test_id"""),

    // ---- per-document novelty (corpus-unique shingle share) -------------
    QuerySpec("q88_novelty_score", ((s, dir) => {
      CorpusStats.noveltyScore(read(s, dir, "documents"), "doc_id", "text")
        .select(col("id").as("doc_id"), col("n_shingles"), col("n_unique"),
          round(col("novelty"), 4).as("novelty"))
        .orderBy(col("doc_id"))
    }),
      // Novelty: df over distinct 3-shingles (hashes Spark-side, strings
      // oracle-side — identical absent 64-bit collisions), per-doc share of
      // df=1 shingles
      """WITH t AS (
           SELECT doc_id, list_filter(regexp_split_to_array(trim(lower(text)), '\s+'),
                  x -> len(x) > 0) AS toks
           FROM documents),
         s AS (
           SELECT doc_id, list_distinct(list_transform(range(1, len(toks) - 1),
                  i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS sh
           FROM t WHERE len(toks) >= 3),
         ex AS (SELECT doc_id, unnest(sh) AS h FROM s),
         dfq AS (SELECT h, count(*) AS df FROM ex GROUP BY h)
         SELECT e.doc_id, count(*)::BIGINT AS n_shingles,
                sum(CASE WHEN d.df = 1 THEN 1 ELSE 0 END)::BIGINT AS n_unique,
                round(sum(CASE WHEN d.df = 1 THEN 1 ELSE 0 END)::DOUBLE / count(*), 4)
                  AS novelty
         FROM ex e JOIN dfq d USING (h)
         GROUP BY e.doc_id ORDER BY e.doc_id"""),

    // ---- inverted index / posting lists ---------------------------------
    QuerySpec("q86_inverted_index", ((s, dir) => {
      Search.invertedIndex(read(s, dir, "documents"), "doc_id", "text",
        minDf = 3)
        .gateOrdered(col("term"))
    }),
      // Posting lists over the shared tokenizer; df bounds on the aggregate
      """WITH t AS (
           SELECT doc_id, list_filter(regexp_split_to_array(trim(lower(text)), '\s+'),
                  x -> len(x) > 0) AS toks
           FROM documents),
         ex AS (SELECT doc_id, unnest(toks) AS term FROM t),
         p AS (SELECT term, doc_id, count(*) AS tf FROM ex GROUP BY term, doc_id)
         SELECT term, count(*)::BIGINT AS df, sum(tf)::BIGINT AS tf_total,
                string_agg(doc_id::VARCHAR, ',' ORDER BY doc_id) AS postings
         FROM p GROUP BY term HAVING count(*) >= 3
         ORDER BY term"""),

    // ---- unigram cross-entropy (statistical quality proxy) --------------
    QuerySpec("q79_unigram_loss", ((s, dir) => {
      CorpusStats.unigramLogLoss(read(s, dir, "documents"), "doc_id", "text")
        .select(col("id").as("doc_id"), col("n_tokens"),
          round(col("log_loss"), 4).as("log_loss"),
          round(col("perplexity"), 4).as("perplexity"))
        .gateOrdered(col("doc_id"))
    }),
      // Unigram cross-entropy under the corpus's own distribution; mean of
      // -ln p over token occurrences, perplexity = exp(mean)
      """WITH t AS (
           SELECT doc_id, list_filter(regexp_split_to_array(trim(lower(text)), '\s+'),
                  x -> len(x) > 0) AS toks
           FROM documents),
         ex AS (SELECT doc_id, unnest(toks) AS term FROM t),
         cnt AS (SELECT term, count(*) AS c FROM ex GROUP BY term),
         tot AS (SELECT count(*) AS n_total FROM ex),
         doc AS (
           SELECT e.doc_id, count(*) AS n_tokens,
                  sum(-ln(c.c::DOUBLE / tot.n_total)) AS s
           FROM ex e JOIN cnt c USING (term) CROSS JOIN tot
           GROUP BY e.doc_id)
         SELECT doc_id, n_tokens::BIGINT AS n_tokens,
                round(s / n_tokens, 4) AS log_loss,
                round(exp(s / n_tokens), 4) AS perplexity
         FROM doc ORDER BY doc_id"""),

    // ---- shingle document-frequency histogram (cap diagnostic) ----------
    QuerySpec("q76_df_histogram", ((s, dir) => {
      CorpusStats.shingleDfHistogram(read(s, dir, "documents"), "text",
        shingleSize = 3)
        .orderBy(col("doc_freq"))
    }),
      // Distinct-shingle doc-frequency histogram (8-byte hashes Spark-side,
      // strings oracle-side — identical absent 64-bit collisions)
      """WITH t AS (
           SELECT doc_id, list_filter(regexp_split_to_array(trim(lower(text)), '\s+'),
                  x -> len(x) > 0) AS toks
           FROM documents),
         s AS (
           SELECT doc_id, list_distinct(list_transform(range(1, len(toks) - 1),
                  i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS sh
           FROM t WHERE len(toks) >= 3),
         dfq AS (
           SELECT h, count(*) AS doc_freq
           FROM (SELECT doc_id, unnest(sh) AS h FROM s) e GROUP BY h)
         SELECT doc_freq, count(*)::BIGINT AS n_shingles
         FROM dfq GROUP BY doc_freq ORDER BY doc_freq"""),

    // ---- long-document chunking (pre-packing split) ---------------------
    QuerySpec("q74_chunk_documents", ((s, dir) => {
      Packing.chunkDocuments(read(s, dir, "documents"), "doc_id", "text",
        maxTokens = 32, overlapTokens = 8)
        .select(col("id").as("doc_id"), col("chunk_index"),
          col("chunk_text"), col("n_chunk_tokens"))
        .orderBy(col("doc_id"), col("chunk_index"))
    }),
      // Token chunks: 32-token windows every 24 tokens (8-token overlap),
      // short tail included; chunk k spans toks[24k+1 .. min(24k+32, n)]
      """WITH t AS (
           SELECT doc_id, list_filter(regexp_split_to_array(trim(lower(text)), '\s+'),
                  x -> len(x) > 0) AS toks
           FROM documents),
         d AS (SELECT doc_id, toks, len(toks) AS n FROM t WHERE len(toks) > 0)
         SELECT doc_id, k AS chunk_index,
           array_to_string(toks[k*24+1 : least(k*24+32, n)], ' ') AS chunk_text,
           least(k*24+32, n) - k*24 AS n_chunk_tokens
         FROM d, unnest(range(0, CAST(ceil(n / 24.0) AS BIGINT))) AS u(k)
         ORDER BY doc_id, chunk_index"""))

  /** Shared q276/q277 eval scenario: brand recommendations per sampled
    * customer (custkey % 20 == 1 — a bounded query set at any sf) ranked
    * by first-half revenue, judged on second-half purchase counts. Returns
    * (results(c, b, r), qrels(c, b, rel)). Ranks use the ROUNDED revenue
    * with brand-asc tiebreak — a total order, identical on both engines. */
  private def brandRecEval(s: SparkSession, dir: String): (DataFrame, DataFrame) = {
    val li = read(s, dir, "lineitem")
    val ord = read(s, dir, "orders").filter(col("o_custkey") % 20 === 1)
    val part = read(s, dir, "part").select(col("p_partkey"), col("p_brand"))
    val base = li.join(ord, li("l_orderkey") === ord("o_orderkey"))
      .join(broadcast(part), li("l_partkey") === part("p_partkey"))
      .select(col("o_custkey").as("c"), col("p_brand").as("b"),
        to_date(col("o_orderdate")).as("d"),
        (col("l_extendedprice") * (lit(1) - col("l_discount"))).as("rev"))
    val split = lit("1998-06-01").cast("date")
    val h1 = base.filter(col("d") < split)
      .groupBy(col("c"), col("b")).agg(round(sum(col("rev")), 2).as("s"))
    val w = Window.partitionBy(col("c")).orderBy(col("s").desc, col("b").asc)
    val res = h1.withColumn("r", row_number().over(w)).filter(col("r") <= 10)
      .select(col("c"), col("b"), col("r"))
    val rel = base.filter(col("d") >= split)
      .groupBy(col("c"), col("b"))
      .agg(least(count(lit(1)), lit(4L)).as("rel"))
    (res, rel)
  }

  /** q215 oracle: the BPE merge loop replayed as chained CTEs. `v0` is the
    * hapax-pruned word-count table with every word symbolized `|c||c||…|`;
    * step i explodes adjacent symbol pairs of `v{i-1}` weighted by word
    * count, takes the (count desc, left asc, right asc) argmax — a total
    * order, so ties are deterministic — and applies the merge as the same
    * literal left-to-right non-overlapping `replace` Spark runs. All
    * counts are integers; nothing floats. */
  private def bpeCtes(merges: Int, minCount: Long): String = {
    val base =
      s"""bw AS (SELECT unnest(regexp_extract_all(lower(text), '[a-z]+')) AS word
             FROM documents),
         v0 AS (SELECT regexp_replace(word, '(.)', '|\\1|', 'g') AS syms,
                  count(*)::BIGINT AS cnt
                FROM bw GROUP BY word HAVING count(*) >= $minCount)"""
    val iters = (1 to merges).map { i =>
      val prev = s"v${i - 1}"
      s"""e$i AS (SELECT a, cnt, unnest(range(1, len(a))) AS j
             FROM (SELECT string_split(trim(syms, '|'), '||') AS a, cnt
                   FROM $prev) t),
         p$i AS (SELECT a[j] AS l, a[j+1] AS r, CAST(sum(cnt) AS BIGINT) AS pc
             FROM e$i GROUP BY 1, 2),
         m$i AS (SELECT l, r, pc, l || r AS mg FROM p$i
             ORDER BY pc DESC, l ASC, r ASC LIMIT 1),
         v$i AS (SELECT replace(syms, '|' || l || '||' || r || '|',
                    '|' || mg || '|') AS syms, cnt
             FROM $prev CROSS JOIN m$i)"""
    }.mkString(",\n         ")
    s"$base,\n         $iters"
  }

  /** Shared q276/q277 oracle scaffold — the brandRecEval scenario plus the
    * trec_eval metric algebra, ending at a CTE `m(c, n_ranked, n_rel, dcg,
    * idcg, ndcg, ap, rr)` for the per-query (q276) and corpus-mean (q277)
    * finals to select from. */
  private def rankingEvalSql: String =
    """WITH base AS (
         SELECT o.o_custkey c, p.p_brand b, o.o_orderdate::DATE d,
                l.l_extendedprice * (1 - l.l_discount) rev
         FROM lineitem l
         JOIN orders o ON l.l_orderkey = o.o_orderkey
         JOIN part p ON l.l_partkey = p.p_partkey
         WHERE o.o_custkey % 20 = 1),
       res AS (
         SELECT c, b, r FROM (
           SELECT c, b, row_number() OVER (PARTITION BY c
             ORDER BY round(sum(rev), 2) DESC, b ASC) r
           FROM base WHERE d < DATE '1998-06-01' GROUP BY c, b) rk
         WHERE r <= 10),
       rel AS (
         SELECT c, b, least(count(*), 4)::DOUBLE rel
         FROM base WHERE d >= DATE '1998-06-01' GROUP BY c, b),
       scored AS (
         SELECT res.c, res.r, coalesce(rel.rel, 0) rel,
           (pow(2, coalesce(rel.rel, 0)) - 1) / log2(res.r + 1) gain,
           sum(CASE WHEN coalesce(rel.rel, 0) > 0 THEN 1 ELSE 0 END)
             OVER (PARTITION BY res.c ORDER BY res.r) cumrel
         FROM res LEFT JOIN rel ON res.c = rel.c AND res.b = rel.b),
       ranked AS (
         SELECT c, count(*)::BIGINT n_ranked, sum(gain) dcg,
           sum(CASE WHEN rel > 0 THEN cumrel::DOUBLE / r ELSE 0 END) apnum,
           min(CASE WHEN rel > 0 THEN r END) firstrel
         FROM scored GROUP BY c),
       ideal AS (
         SELECT c, count(*)::BIGINT n_rel,
           sum(CASE WHEN ir <= 10 THEN (pow(2, rel) - 1) / log2(ir + 1)
               ELSE 0 END) idcg
         FROM (SELECT c, rel, b, row_number() OVER (PARTITION BY c
                 ORDER BY rel DESC, b ASC) ir FROM rel) iq
         GROUP BY c),
       m AS (
         SELECT ranked.c, n_ranked, coalesce(n_rel, 0)::BIGINT n_rel, dcg,
           coalesce(idcg, 0) idcg,
           CASE WHEN idcg > 0 THEN dcg / idcg END ndcg,
           CASE WHEN n_rel > 0 THEN apnum / least(n_rel, 10) END ap,
           CASE WHEN firstrel IS NOT NULL THEN 1.0 / firstrel END rr
         FROM ranked LEFT JOIN ideal ON ranked.c = ideal.c)
    """
}
