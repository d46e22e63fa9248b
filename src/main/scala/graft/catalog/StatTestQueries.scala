package graft
package catalog

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.catalog.CatalogSupport._
import graft.functions.TextFunctions
import graft.profile.StatTests
import graft.sources.EventsSource

/** Statistical tests and association measures (StatTests, Association,
  * Drift). */
object StatTestQueries {

  lazy val specs: Seq[QuerySpec] = Seq(
    // ---- lang × source association (Association) -------------------------
    // χ² / Cramér's V / mutual information from ONE cell-bounded
    // contingency shuffle; the empty-cell χ² mass folds in closed form
    QuerySpec("q223_lang_source_assoc", ((s, dir) => {
      graft.profile.Association
        .categoricalAssociation(read(s, dir, "documents"), "lang", "source")
        .select(col("n"), col("k_a"), col("k_b"),
          // + 0.0 folds IEEE −0.0 (near-independent data rounds the tiny
          // mixed-sign MI sum — and a clamped χ² — to zero)
          (round(col("chi2"), 4) + lit(0.0)).as("chi2"),
          (round(col("cramers_v"), 6) + lit(0.0)).as("cramers_v"),
          (round(col("mutual_info"), 6) + lit(0.0)).as("mutual_info"))
    }),
      // χ² over ALL kₐ·k_b cells from observed cells only: an empty cell's
      // term is its expected count e, and Σ_all e = n, so the empty-cell
      // mass is n − Σ_observed e. MI empty cells contribute 0.
      """WITH cells AS (SELECT lang AS va, source AS vb, count(*)::DOUBLE AS o
                        FROM documents
                        WHERE lang IS NOT NULL AND source IS NOT NULL
                        GROUP BY 1, 2),
         ma AS (SELECT va, sum(o) AS ca FROM cells GROUP BY 1),
         mb AS (SELECT vb, sum(o) AS cb FROM cells GROUP BY 1),
         t AS (SELECT sum(o) AS n, count(DISTINCT va) AS k_a,
                      count(DISTINCT vb) AS k_b FROM cells),
         z AS (SELECT max(t.n) AS n, max(t.k_a) AS k_a, max(t.k_b) AS k_b,
                 greatest(sum(pow(c.o - c.ca * c.cb / t.n, 2)
                              / (c.ca * c.cb / t.n))
                   + max(t.n) - sum(c.ca * c.cb / t.n), 0) AS chi2,
                 sum(c.o / t.n * ln(c.o * t.n / (c.ca * c.cb))) AS mi
               FROM (SELECT cells.*, ma.ca, mb.cb FROM cells
                     JOIN ma USING (va) JOIN mb USING (vb)) c, t)
         SELECT n::BIGINT AS n, k_a::BIGINT AS k_a, k_b::BIGINT AS k_b,
           round(chi2, 4) + 0.0 AS chi2,
           CASE WHEN least(k_a, k_b) > 1
                THEN round(sqrt(chi2 / (n * (least(k_a, k_b) - 1))), 6) + 0.0
           END AS cramers_v,
           round(mi, 6) + 0.0 AS mutual_info
         FROM z"""),

    // ---- all-pairs association matrix (Association) -----------------------
    // the pre-training leakage scan: every column pair's chi2/V/MI row
    // over (lang, source, 500-char length bucket)
    QuerySpec("q228_assoc_matrix", ((s, dir) => {
      val d = read(s, dir, "documents")
        .withColumn("len_bucket", floor(col("n_chars") / 500).cast("long"))
      graft.profile.Association
        .associationMatrix(d, Seq("lang", "source", "len_bucket"))
        .select(col("col_a"), col("col_b"), col("n"), col("k_a"), col("k_b"),
          (round(col("chi2"), 4) + lit(0.0)).as("chi2"),
          (round(col("cramers_v"), 6) + lit(0.0)).as("cramers_v"),
          (round(col("mutual_info"), 6) + lit(0.0)).as("mutual_info"))
        .orderBy(col("col_a"), col("col_b"))
    }), {
      // per-pair replay of the q223 chain over pair-suffixed CTEs, unioned
      val cols = Seq("lang", "source", "len_bucket")
      val pairs = for { i <- cols.indices; j <- (i + 1) until cols.size }
        yield (cols(i), cols(j))
      val ctes = pairs.zipWithIndex.map { case ((a, b), i) =>
        s"""cells_$i AS (SELECT $a AS va, $b AS vb, count(*)::DOUBLE AS o
                  FROM base WHERE $a IS NOT NULL AND $b IS NOT NULL
                  GROUP BY 1, 2),
         ma_$i AS (SELECT va, sum(o) AS ca FROM cells_$i GROUP BY 1),
         mb_$i AS (SELECT vb, sum(o) AS cb FROM cells_$i GROUP BY 1),
         t_$i AS (SELECT sum(o) AS n, count(DISTINCT va) AS k_a,
                      count(DISTINCT vb) AS k_b FROM cells_$i),
         z_$i AS (SELECT max(t.n) AS n, max(t.k_a) AS k_a, max(t.k_b) AS k_b,
                 greatest(sum(pow(c.o - c.ca * c.cb / t.n, 2)
                              / (c.ca * c.cb / t.n))
                   + max(t.n) - sum(c.ca * c.cb / t.n), 0) AS chi2,
                 sum(c.o / t.n * ln(c.o * t.n / (c.ca * c.cb))) AS mi
               FROM (SELECT cells_$i.*, ma.ca, mb.cb FROM cells_$i
                     JOIN ma_$i ma USING (va) JOIN mb_$i mb USING (vb)) c,
                    t_$i t)"""
      }.mkString(",\n         ")
      val selects = pairs.zipWithIndex.map { case ((a, b), i) =>
        s"""SELECT '$a' AS col_a, '$b' AS col_b, n::BIGINT AS n,
           k_a::BIGINT AS k_a, k_b::BIGINT AS k_b,
           round(chi2, 4) + 0.0 AS chi2,
           CASE WHEN least(k_a, k_b) > 1
                THEN round(sqrt(chi2 / (n * (least(k_a, k_b) - 1))), 6) + 0.0
           END AS cramers_v,
           round(mi, 6) + 0.0 AS mutual_info
         FROM z_$i"""
      }.mkString("\nUNION ALL\n")
      s"""WITH base AS (SELECT lang, source, floor(n_chars / 500)::BIGINT
                  AS len_bucket FROM documents),
         $ctes
         $selects
         ORDER BY col_a, col_b"""
    }),

    // ---- Mann-Whitney U location drift (Drift) ---------------------------
    // rank-sum test between the two order-status slices' price
    // distributions; the rank sum is EXACT on both engines (half-integer
    // double sums below 2^52 never round), so u values are bit-stable
    QuerySpec("q229_mann_whitney", ((s, dir) => {
      val orders = read(s, dir, "orders")
      StatTests.mannWhitneyU(
          orders.filter(col("o_orderstatus") === "F"),
          orders.filter(col("o_orderstatus") === "O"), "o_totalprice")
        .select(col("n_a"), col("n_b"),
          (round(col("u_a"), 2) + lit(0.0)).as("u_a"),
          (round(col("u_b"), 2) + lit(0.0)).as("u_b"),
          (round(col("u"), 2) + lit(0.0)).as("u"),
          (round(col("z"), 6) + lit(0.0)).as("z"))
    }),
      // Mann-Whitney U via per-distinct-value counts + exclusive cumulative
      // rank offsets (avg rank = before + (cnt+1)/2); rank sums are exact
      // half-integer doubles on both engines, tie cubes go through DOUBLE
      """WITH av AS (SELECT o_totalprice::DOUBLE AS v FROM orders
                     WHERE o_orderstatus = 'F' AND o_totalprice IS NOT NULL),
         bv AS (SELECT o_totalprice::DOUBLE AS v FROM orders
                WHERE o_orderstatus = 'O' AND o_totalprice IS NOT NULL),
         ca AS (SELECT v, count(*)::BIGINT AS na FROM av GROUP BY 1),
         cb AS (SELECT v, count(*)::BIGINT AS nb FROM bv GROUP BY 1),
         j AS (SELECT coalesce(ca.v, cb.v) AS v, coalesce(na, 0) AS na,
                      coalesce(nb, 0) AS nb
               FROM ca FULL OUTER JOIN cb ON ca.v = cb.v),
         c AS (SELECT v, na, nb, na + nb AS cnt FROM j),
         w AS (SELECT *, coalesce(sum(cnt) OVER (ORDER BY v
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS bef
               FROM c),
         t AS (SELECT sum(na)::DOUBLE AS na, sum(nb)::DOUBLE AS nb,
                 sum(cnt)::DOUBLE AS n,
                 sum(na * (bef + (cnt + 1) / 2.0)) AS ra,
                 sum(cnt::DOUBLE * cnt::DOUBLE * cnt::DOUBLE - cnt::DOUBLE)
                   AS ties
               FROM w)
         SELECT na::BIGINT AS n_a, nb::BIGINT AS n_b,
           round(ra - na * (na + 1) / 2.0, 2) + 0.0 AS u_a,
           round(na * nb - (ra - na * (na + 1) / 2.0), 2) + 0.0 AS u_b,
           round(least(ra - na * (na + 1) / 2.0,
                       na * nb - (ra - na * (na + 1) / 2.0)), 2) + 0.0 AS u,
           round((ra - na * (na + 1) / 2.0 - na * nb / 2.0)
             / sqrt(na * nb / 12.0 * ((n + 1) - ties / (n * (n - 1)))), 6)
             + 0.0 AS z
         FROM t"""),

    // ---- correlation ratio eta (Association) -----------------------------
    // cat->num leakage scan: share of n_chars variance explained by lang
    // (the third leg beside Cramer's V for cat-cat and Pearson num-num)
    QuerySpec("q231_correlation_ratio", ((s, dir) => {
      graft.profile.Association
        .correlationRatio(read(s, dir, "documents"), "lang", "n_chars")
        .select(col("n"), col("k"),
          (round(col("eta2"), 6) + lit(0.0)).as("eta2"),
          (round(col("eta"), 6) + lit(0.0)).as("eta"))
    }),
      // correlation ratio from the same moment identity (SS via sums and
      // sums of squares; integer-valued doubles sum exactly below 2^52)
      """WITH g AS (SELECT lang, count(*)::BIGINT AS ng,
                      sum(n_chars::DOUBLE) AS sg,
                      sum(n_chars::DOUBLE * n_chars::DOUBLE) AS qg
                    FROM documents
                    WHERE lang IS NOT NULL AND n_chars IS NOT NULL
                    GROUP BY 1),
         t AS (SELECT sum(ng)::BIGINT AS n, count(*)::BIGINT AS k,
                 sum(sg) AS s, sum(qg) AS q,
                 sum(sg * sg / ng) AS b
               FROM g),
         e AS (SELECT n, k,
                 CASE WHEN (q - s * s / n) > 0 THEN
                   least(greatest((b - s * s / n) / (q - s * s / n), 0.0), 1.0)
                 END AS eta2
               FROM t)
         SELECT n, k, round(eta2, 6) + 0.0 AS eta2,
           round(sqrt(eta2), 6) + 0.0 AS eta
         FROM e"""),

    // ---- Spearman rank correlation (Association) -------------------------
    // monotone association on the raw columns; average ranks come from
    // the shared per-distinct-value cumsum, never a global sort window
    QuerySpec("q232_spearman", ((s, dir) => {
      graft.profile.Association
        .spearmanCorrelation(read(s, dir, "lineitem"),
          "l_quantity", "l_extendedprice")
        .select(col("n"),
          (round(col("rho"), 6) + lit(0.0)).as("rho"))
    }),
      // Spearman = Pearson over average ranks; ranks from per-distinct-value
      // counts + exclusive cumsum, exactly the Spark construction
      """WITH p AS (SELECT l_quantity::DOUBLE AS x, l_extendedprice::DOUBLE AS y
                    FROM lineitem
                    WHERE l_quantity IS NOT NULL AND l_extendedprice IS NOT NULL),
         cx AS (SELECT x, count(*)::BIGINT AS cnt FROM p GROUP BY 1),
         wx AS (SELECT x, coalesce(sum(cnt) OVER (ORDER BY x
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                  + (cnt + 1) / 2.0 AS rx FROM cx),
         cy AS (SELECT y, count(*)::BIGINT AS cnt FROM p GROUP BY 1),
         wy AS (SELECT y, coalesce(sum(cnt) OVER (ORDER BY y
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                  + (cnt + 1) / 2.0 AS ry FROM cy)
         SELECT count(*)::BIGINT AS n, round(corr(rx, ry), 6) + 0.0 AS rho
         FROM p JOIN wx USING (x) JOIN wy USING (y)"""),

    // ---- md5-seeded permutation test (Drift) ------------------------------
    // randomization test for the es-vs-de mean n_chars gap: 200
    // deterministic relabelings; n_chars is integer-valued so every
    // permutation mean is a bit-exact dyadic ratio on both engines
    QuerySpec("q242_permutation_test", ((s, dir) => {
      val docs = read(s, dir, "documents")
      StatTests.permutationTestMeanDiff(
          docs.filter(col("lang") === "es"),
          docs.filter(col("lang") === "de"),
          "doc_id", "n_chars", nPerms = 200, seed = "pt")
        .select(col("n_a"), col("n_b"),
          (round(col("observed"), 6) + lit(0.0)).as("observed"),
          col("n_perms"), col("n_ge"),
          (round(col("p_value"), 6) + lit(0.0)).as("p_value"))
    }),
      // identical md5 relabeling per (seed, perm, side, id), coin WEIGHTED
      // at n_a/(n_a+n_b) (unconditional randomization conditioning on the
      // observed imbalance in expectation); u = hex8/2^32 exactly as q243,
      // so both engines compare the identical exact double. Integer-valued
      // n_chars makes every group mean bit-exact, so the >= count can never
      // sit on a float boundary; add-one p estimator
      """WITH ca AS (SELECT doc_id::VARCHAR AS id, n_chars::DOUBLE AS v,
                  'a' AS side FROM documents
                WHERE lang = 'es' AND n_chars IS NOT NULL),
         cb AS (SELECT doc_id::VARCHAR AS id, n_chars::DOUBLE AS v,
                  'b' AS side FROM documents
                WHERE lang = 'de' AND n_chars IS NOT NULL),
         comb AS (SELECT * FROM ca UNION ALL SELECT * FROM cb),
         obs AS (SELECT abs(avg(CASE WHEN side = 'a' THEN v END)
                   - avg(CASE WHEN side = 'b' THEN v END)) AS o,
                 sum(CASE WHEN side = 'a' THEN 1 ELSE 0 END)::BIGINT AS n_a,
                 sum(CASE WHEN side = 'b' THEN 1 ELSE 0 END)::BIGINT AS n_b
               FROM comb),
         asg AS (SELECT p, v,
                   ('0x' || substr(md5('pt:' || p || ':' || side || ':' || id),
                      1, 8))::UBIGINT / 4294967296.0
                     < (SELECT n_a::DOUBLE / (n_a + n_b)::DOUBLE FROM obs) AS g
                 FROM comb, range(1, 201) t(p)),
         st AS (SELECT p, abs(avg(CASE WHEN g THEN v END)
                  - avg(CASE WHEN NOT g THEN v END)) AS s
                FROM asg GROUP BY p),
         c AS (SELECT sum(CASE WHEN round(s, 9) >= round(obs.o, 9)
                 THEN 1 ELSE 0 END)::BIGINT AS n_ge
               FROM st, obs)
         SELECT obs.n_a, obs.n_b, round(obs.o, 6) + 0.0 AS observed,
           200 AS n_perms, c.n_ge,
           round((c.n_ge + 1) / 201.0, 6) + 0.0 AS p_value
         FROM obs, c"""),

    // ---- Welch two-sample t (Drift) ---------------------------------------
    // unequal-variance mean comparison of en vs de doc lengths; exact
    // integer moments -> identical closed-form t/df/d on both engines
    QuerySpec("q247_welch_ttest", ((s, dir) => {
      val docs = read(s, dir, "documents")
      StatTests.welchTTest(docs.filter(col("lang") === "en"),
          docs.filter(col("lang") === "de"), "n_chars")
        .select(col("n_a"), col("n_b"),
          (round(col("mean_a"), 6) + lit(0.0)).as("mean_a"),
          (round(col("mean_b"), 6) + lit(0.0)).as("mean_b"),
          (round(col("t"), 6) + lit(0.0)).as("t"),
          (round(col("df"), 6) + lit(0.0)).as("df"),
          (round(col("cohens_d"), 6) + lit(0.0)).as("cohens_d"))
    }),
      // exact integer moments -> the identical closed-form Welch t / df /
      // Cohen's d expression on both engines
      """WITH a AS (SELECT count(*)::BIGINT n, sum(n_chars::DOUBLE) s,
                  sum(n_chars::DOUBLE * n_chars::DOUBLE) q
                FROM documents WHERE lang = 'en' AND n_chars IS NOT NULL),
         b AS (SELECT count(*)::BIGINT n, sum(n_chars::DOUBLE) s,
                  sum(n_chars::DOUBLE * n_chars::DOUBLE) q
                FROM documents WHERE lang = 'de' AND n_chars IS NOT NULL),
         c AS (SELECT a.n na, b.n nb, a.s / a.n ma, b.s / b.n mb,
                 (a.q - a.s * a.s / a.n) / (a.n - 1) va,
                 (b.q - b.s * b.s / b.n) / (b.n - 1) vb
               FROM a, b),
         w AS (SELECT na, nb, ma, mb, va, vb, va / na wa, vb / nb wb FROM c)
         SELECT na AS n_a, nb AS n_b,
           round(ma, 6) + 0.0 AS mean_a, round(mb, 6) + 0.0 AS mean_b,
           round((ma - mb) / sqrt(wa + wb), 6) + 0.0 AS t,
           round((wa + wb) * (wa + wb)
             / (wa * wa / (na - 1) + wb * wb / (nb - 1)), 6) + 0.0 AS df,
           round((ma - mb)
             / sqrt(((na - 1) * va + (nb - 1) * vb) / (na + nb - 2)), 6)
             + 0.0 AS cohens_d
         FROM w"""),

    // ---- one-way ANOVA F across languages (Drift) -------------------------
    // k-group mean comparison of doc lengths by lang; moment-identity sums
    // of squares (ss rounded at 2dp: the 1e10-magnitude sums carry ~1e-5
    // cross-engine summation-order noise)
    QuerySpec("q248_anova", ((s, dir) => {
      StatTests.anovaF(read(s, dir, "documents"), "lang", "n_chars")
        .select(col("n"), col("k"),
          (round(col("ss_between"), 2) + lit(0.0)).as("ss_between"),
          (round(col("ss_within"), 2) + lit(0.0)).as("ss_within"),
          (round(col("f"), 6) + lit(0.0)).as("f"))
    }),
      // moment-identity sums of squares; 2dp on the 1e10-scale ss values
      // absorbs cross-engine group-summation order
      """WITH g AS (SELECT lang, count(*)::BIGINT ng, sum(n_chars::DOUBLE) s,
                  sum(n_chars::DOUBLE * n_chars::DOUBLE) q
                FROM documents
                WHERE lang IS NOT NULL AND n_chars IS NOT NULL GROUP BY 1),
         t AS (SELECT sum(ng)::BIGINT n, count(*)::BIGINT k,
                 sum(s * s / ng) sg, sum(s) st, sum(q) qt FROM g)
         SELECT n, k,
           round(sg - st * st / n, 2) + 0.0 AS ss_between,
           round(qt - sg, 2) + 0.0 AS ss_within,
           round(((sg - st * st / n) / (k - 1)) / ((qt - sg) / (n - k)), 6)
             + 0.0 AS f
         FROM t"""),

    // ---- Kruskal-Wallis H across languages (Drift) -------------------------
    // the rank-based ANOVA sibling; avg ranks via the shared cumsum, H at
    // 4dp (rank-sum squares cross 2^53, the division noise sits ~1e-7)
    QuerySpec("q249_kruskal", ((s, dir) => {
      StatTests.kruskalWallis(read(s, dir, "documents"), "lang", "n_chars")
        .select(col("n"), col("k"),
          (round(col("h"), 4) + lit(0.0)).as("h"),
          (round(col("tie_correction"), 9) + lit(0.0)).as("tie_correction"))
    }),
      // average ranks from the exclusive distinct-value cumsum; the tie mass
      // rides the group join as (t^2-1)*c (exact); H at 4dp
      """WITH d AS (SELECT lang g, n_chars::DOUBLE v FROM documents
                WHERE lang IS NOT NULL AND n_chars IS NOT NULL),
         pv AS (SELECT v, count(*)::BIGINT cnt FROM d GROUP BY 1),
         r AS (SELECT v, cnt, coalesce(sum(cnt) OVER (ORDER BY v
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                   AS bel
               FROM pv),
         rk AS (SELECT v, bel + (cnt + 1) / 2.0 AS ar, cnt::DOUBLE AS t
                FROM r),
         gv AS (SELECT g, v, count(*)::BIGINT c FROM d GROUP BY 1, 2),
         bg AS (SELECT g, sum(c)::BIGINT ng, sum(c * ar) rg,
                  sum((t * t - 1) * c) tg
                FROM gv JOIN rk USING (v) GROUP BY g),
         agg AS (SELECT count(*)::BIGINT k, sum(rg * rg / ng) sr,
                   sum(tg) tmass FROM bg),
         nn AS (SELECT count(*)::BIGINT n FROM d)
         SELECT nn.n, agg.k,
           round((12.0 / (nn.n::DOUBLE * (nn.n + 1)) * agg.sr
               - 3.0 * (nn.n + 1))
             / (1.0 - agg.tmass / (nn.n::DOUBLE * nn.n * nn.n - nn.n)), 4)
             + 0.0 AS h,
           round(1.0 - agg.tmass / (nn.n::DOUBLE * nn.n * nn.n - nn.n), 9)
             + 0.0 AS tie_correction
         FROM nn, agg"""),

    // ---- Theil's uncertainty coefficient lang<->source (Association) ------
    // the ASYMMETRIC association: how much of lang does source explain,
    // and vice versa — directions differ, unlike q223's Cramer's V
    QuerySpec("q250_uncertainty", ((s, dir) => {
      graft.profile.Association
        .uncertaintyCoefficient(read(s, dir, "documents"), "lang", "source")
        .select(col("n"),
          (round(col("h_a"), 6) + lit(0.0)).as("h_a"),
          (round(col("h_b"), 6) + lit(0.0)).as("h_b"),
          (round(col("mi"), 6) + lit(0.0)).as("mi"),
          (round(col("u_a_given_b"), 6) + lit(0.0)).as("u_a_given_b"),
          (round(col("u_b_given_a"), 6) + lit(0.0)).as("u_b_given_a"))
    }),
      // entropies over observed cells only (each margin's mass splits across
      // its cells); U = MI / H per direction
      """WITH cells AS (SELECT lang::VARCHAR va, source::VARCHAR vb,
                  count(*)::DOUBLE o
                FROM documents
                WHERE lang IS NOT NULL AND source IS NOT NULL GROUP BY 1, 2),
         ma AS (SELECT va, sum(o) ca FROM cells GROUP BY 1),
         mb AS (SELECT vb, sum(o) cb FROM cells GROUP BY 1),
         t AS (SELECT sum(o) n FROM cells),
         j AS (SELECT o, ca, cb, n FROM cells
               JOIN ma USING (va) JOIN mb USING (vb) CROSS JOIN t)
         SELECT max(n)::BIGINT AS n,
           round(sum(-o / n * ln(ca / n)), 6) + 0.0 AS h_a,
           round(sum(-o / n * ln(cb / n)), 6) + 0.0 AS h_b,
           round(sum(o / n * ln(o * n / (ca * cb))), 6) + 0.0 AS mi,
           (CASE WHEN sum(-o / n * ln(ca / n)) > 0 THEN
             round(sum(o / n * ln(o * n / (ca * cb)))
               / sum(-o / n * ln(ca / n)), 6) END) + 0.0 AS u_a_given_b,
           (CASE WHEN sum(-o / n * ln(cb / n)) > 0 THEN
             round(sum(o / n * ln(o * n / (ca * cb)))
               / sum(-o / n * ln(cb / n)), 6) END) + 0.0 AS u_b_given_a
         FROM j"""),

    // ---- Cohen's kappa: stored lang vs heuristic lang-id (Association) ----
    // chance-corrected agreement between the corpus label and the q27
    // stopword-share predictor — the labeler-audit primitive; both engines
    // replay the identical argmax (ties break to the max language code)
    QuerySpec("q251_kappa", ((s, dir) => {
      val docs = read(s, dir, "documents")
        .filter(col("text").isNotNull)
        .select(col("lang"), TextFunctions.langId(col("text")).as("pred"))
      graft.profile.Association.cohenKappa(docs, "lang", "pred")
        .select(col("n"),
          (round(col("po"), 6) + lit(0.0)).as("po"),
          (round(col("pe"), 6) + lit(0.0)).as("pe"),
          (round(col("kappa"), 6) + lit(0.0)).as("kappa"))
    }), {
      // q27's stopword-share language argmax replayed (ties break to the
      // lexicographically largest code), then the kappa contingency algebra
      val langs = TextFunctions.stopwords.toSeq.sortBy(_._1)
      val scoreCols = langs.map { case (lang, words) =>
        s"len(list_intersect(toks, ${sqlList(words)}))::DOUBLE / greatest(len(toks), 1)::DOUBLE AS s_$lang"
      }.mkString(",\n             ")
      val gs = "greatest(s_de, s_en, s_es, s_fr)"
      s"""WITH t AS (
           SELECT lang, list_filter(regexp_split_to_array(trim(lower(text)), '\\s+'),
               x -> len(x) > 0) AS toks
           FROM documents WHERE lang IS NOT NULL AND text IS NOT NULL),
         sc AS (SELECT lang, $scoreCols FROM t),
         pred AS (SELECT lang AS va,
             CASE WHEN $gs = 0 THEN 'und'
                  WHEN s_fr = $gs THEN 'fr'
                  WHEN s_es = $gs THEN 'es'
                  WHEN s_en = $gs THEN 'en'
                  ELSE 'de' END AS vb
           FROM sc),
         cells AS (SELECT va, vb, count(*)::DOUBLE o FROM pred GROUP BY 1, 2),
         ma AS (SELECT va, sum(o) ca FROM cells GROUP BY 1),
         mb AS (SELECT vb, sum(o) cb FROM cells GROUP BY 1),
         ex AS (SELECT sum(ca * cb) pn FROM ma JOIN mb ON va = vb),
         ag AS (SELECT sum(o) n,
                  sum(CASE WHEN va = vb THEN o ELSE 0 END) agree FROM cells)
         SELECT ag.n::BIGINT AS n,
           round(ag.agree / ag.n, 6) + 0.0 AS po,
           round(coalesce(ex.pn, 0) / (ag.n * ag.n), 6) + 0.0 AS pe,
           (CASE WHEN coalesce(ex.pn, 0) / (ag.n * ag.n) < 1 THEN
             round((ag.agree / ag.n - coalesce(ex.pn, 0) / (ag.n * ag.n))
               / (1.0 - coalesce(ex.pn, 0) / (ag.n * ag.n)), 6) END)
             + 0.0 AS kappa
         FROM ag, ex"""
    }),

    // ---- CUSUM changepoint in daily event rate (Drift) --------------------
    // the at-most-one-change level-shift estimator; integer-exact scaled
    // CUSUM so the argmax day can never flip on float noise
    QuerySpec("q254_cusum", ((s, dir) => {
      StatTests.cusumChangepoint(EventsSource.read(s, s"$dir/events.parquet"), "ts")
        .select(col("n_days"), col("change_day"),
          (round(col("cusum_max"), 6) + lit(0.0)).as("cusum_max"),
          (round(col("rate_before"), 6) + lit(0.0)).as("rate_before"),
          (round(col("rate_after"), 6) + lit(0.0)).as("rate_after"))
    }),
      // integer-exact scaled CUSUM D_t = n*S_t - t*S_total; argmax by
      // (|D| desc, day asc)
      """WITH d AS (SELECT ts::DATE AS day, count(*)::BIGINT c FROM events
                WHERE ts IS NOT NULL GROUP BY 1),
         p AS (SELECT day, c, sum(c) OVER (ORDER BY day) s,
                 row_number() OVER (ORDER BY day) t FROM d),
         tot AS (SELECT max(t)::BIGINT n, max(s)::BIGINT tt FROM p),
         sc AS (SELECT day, s, t, n, tt, n * s - t * tt AS dd FROM p, tot)
         SELECT n AS n_days, day AS change_day,
           round(abs(dd)::DOUBLE / n, 6) + 0.0 AS cusum_max,
           round(s::DOUBLE / t, 6) + 0.0 AS rate_before,
           (CASE WHEN n > t
             THEN round((tt - s)::DOUBLE / (n - t), 6) END) + 0.0
             AS rate_after
         FROM sc ORDER BY abs(dd) DESC, day ASC LIMIT 1"""),

    // ---- McNemar's paired test: stored lang vs lang-id on 'en' (Assoc) ----
    // do the two 'is English' labelers disagree symmetrically? only the
    // discordant pairs carry signal
    QuerySpec("q260_mcnemar", ((s, dir) => {
      val docs = read(s, dir, "documents")
        .filter(col("lang").isNotNull && col("text").isNotNull)
        .select((col("lang") === "en").as("a"),
          (TextFunctions.langId(col("text")) === "en").as("b"))
      graft.profile.Association.mcnemar(docs, "a", "b")
        .select(col("n"), col("n10"), col("n01"),
          (round(col("chi2"), 6) + lit(0.0)).as("chi2"),
          (round(col("chi2_cc"), 6) + lit(0.0)).as("chi2_cc"))
    }), {
      // the q27 lang-id argmax replayed; discordant-pair chi2 with and
      // without the Edwards continuity correction
      val langs = TextFunctions.stopwords.toSeq.sortBy(_._1)
      val scoreCols = langs.map { case (lang, words) =>
        s"len(list_intersect(toks, ${sqlList(words)}))::DOUBLE / greatest(len(toks), 1)::DOUBLE AS s_$lang"
      }.mkString(",\n             ")
      val gs = "greatest(s_de, s_en, s_es, s_fr)"
      s"""WITH t AS (
           SELECT lang, list_filter(regexp_split_to_array(trim(lower(text)), '\\s+'),
               x -> len(x) > 0) AS toks
           FROM documents WHERE lang IS NOT NULL AND text IS NOT NULL),
         sc AS (SELECT lang, $scoreCols FROM t),
         pred AS (SELECT (lang = 'en') a,
             ((CASE WHEN $gs = 0 THEN 'und'
                  WHEN s_fr = $gs THEN 'fr'
                  WHEN s_es = $gs THEN 'es'
                  WHEN s_en = $gs THEN 'en'
                  ELSE 'de' END) = 'en') b
           FROM sc),
         c AS (SELECT count(*)::BIGINT n,
                 sum(CASE WHEN a AND NOT b THEN 1 ELSE 0 END)::BIGINT n10,
                 sum(CASE WHEN NOT a AND b THEN 1 ELSE 0 END)::BIGINT n01
               FROM pred)
         SELECT n, n10, n01,
           (CASE WHEN n10 + n01 > 0 THEN
             round(pow(n01 - n10, 2) / (n01 + n10), 6) END) + 0.0 AS chi2,
           (CASE WHEN n10 + n01 > 0 THEN
             round(pow(greatest(abs(n01 - n10) - 1, 0), 2)
               / (n01 + n10), 6) END) + 0.0 AS chi2_cc
         FROM c"""
    }),

    // ---- Theil-Sen robust trend of the daily event rate (Drift) -----------
    // median of pairwise slopes over the calendar-bounded day table
    QuerySpec("q265_theil_sen", ((s, dir) => {
      StatTests.theilSenTrend(EventsSource.read(s, s"$dir/events.parquet"), "ts")
        .select(col("n_days"), col("n_pairs"),
          (round(col("slope"), 6) + lit(0.0)).as("slope"),
          (round(col("intercept"), 4) + lit(0.0)).as("intercept"))
    }),
      // median pairwise slope over the bounded day table; epoch-day x
      """WITH d AS (SELECT ts::DATE AS day, count(*)::DOUBLE y FROM events
                WHERE ts IS NOT NULL GROUP BY 1),
         dd AS (SELECT (day - DATE '1970-01-01')::DOUBLE x, y FROM d),
         sl AS (SELECT (b.y - a.y) / (b.x - a.x) s
                FROM dd a JOIN dd b ON b.x > a.x),
         t AS (SELECT count(*)::BIGINT np, quantile_cont(s, 0.5) m FROM sl),
         i AS (SELECT quantile_cont(dd.y - t.m * dd.x, 0.5) ic FROM dd, t)
         SELECT (SELECT count(*) FROM d)::BIGINT AS n_days, t.np AS n_pairs,
           round(t.m, 6) + 0.0 AS slope, round(i.ic, 4) + 0.0 AS intercept
         FROM t, i"""),

    // ---- per-event-type CUSUM changepoint (Drift) --------------------------
    // one level-shift estimate per slice; keyed windows, nothing global
    QuerySpec("q266_cusum_by_type", ((s, dir) => {
      StatTests.cusumChangepointByKey(
          EventsSource.read(s, s"$dir/events.parquet"), "ts", "event_type")
        .select(col("key").as("event_type"), col("n_days"), col("change_day"),
          (round(col("cusum_max"), 6) + lit(0.0)).as("cusum_max"),
          (round(col("rate_before"), 6) + lit(0.0)).as("rate_before"),
          (round(col("rate_after"), 6) + lit(0.0)).as("rate_after"))
        .orderBy(col("event_type"))
    }),
      // per-key integer-exact scaled CUSUM; earliest-day tie rule per key
      """WITH d AS (SELECT event_type, ts::DATE AS day, count(*)::BIGINT c
               FROM events WHERE ts IS NOT NULL AND event_type IS NOT NULL
               GROUP BY 1, 2),
         p AS (SELECT event_type, day, c,
                 sum(c) OVER (PARTITION BY event_type ORDER BY day) s,
                 row_number() OVER (PARTITION BY event_type ORDER BY day) t
               FROM d),
         tot AS (SELECT event_type, max(t)::BIGINT n, max(s)::BIGINT tt
                 FROM p GROUP BY 1),
         sc AS (SELECT p.event_type, day, s, t, n, tt,
                  n * s - t * tt AS dd,
                  row_number() OVER (PARTITION BY p.event_type
                    ORDER BY abs(n * s - t * tt) DESC, day ASC) rk
                FROM p JOIN tot USING (event_type))
         SELECT event_type, n AS n_days, day AS change_day,
           round(abs(dd)::DOUBLE / n, 6) + 0.0 AS cusum_max,
           round(s::DOUBLE / t, 6) + 0.0 AS rate_before,
           (CASE WHEN n > t
             THEN round((tt - s)::DOUBLE / (n - t), 6) END) + 0.0
             AS rate_after
         FROM sc WHERE rk = 1 ORDER BY event_type"""),

    // ---- weekday seasonality strength: ANOVA F over day-of-week (Drift) ---
    // does the daily event rate depend on the weekday? anovaF composed on
    // the calendar-bounded per-day count table (group labels differ across
    // engines — Spark 1..7, DuckDB 0..6 — but the PARTITION is identical
    // and only n/k/ss/f leave the operator)
    QuerySpec("q267_seasonality", ((s, dir) => {
      val daily = EventsSource.read(s, s"$dir/events.parquet")
        .filter(col("ts").isNotNull)
        .groupBy(to_date(col("ts")).as("day")).agg(count(lit(1)).as("c"))
        .withColumn("dow", dayofweek(col("day")))
      StatTests.anovaF(daily, "dow", "c")
        .select(col("n"), col("k"),
          (round(col("ss_between"), 4) + lit(0.0)).as("ss_between"),
          (round(col("ss_within"), 4) + lit(0.0)).as("ss_within"),
          (round(col("f"), 6) + lit(0.0)).as("f"))
    }),
      // weekday partition of the per-day count table -> the q248 moment
      // identities (group labels differ across engines; the partition and
      // the statistics are identical)
      """WITH d AS (SELECT ts::DATE AS day, count(*)::DOUBLE c FROM events
                WHERE ts IS NOT NULL GROUP BY 1),
         g AS (SELECT dayofweek(day) dow, count(*)::BIGINT ng, sum(c) s,
                 sum(c * c) q FROM d GROUP BY 1),
         t AS (SELECT sum(ng)::BIGINT n, count(*)::BIGINT k,
                 sum(s * s / ng) sg, sum(s) st, sum(q) qt FROM g)
         SELECT n, k,
           round(sg - st * st / n, 4) + 0.0 AS ss_between,
           round(qt - sg, 4) + 0.0 AS ss_within,
           round(((sg - st * st / n) / (k - 1)) / ((qt - sg) / (n - k)), 6)
             + 0.0 AS f
         FROM t"""),

    // ---- Brown-Forsythe variance homogeneity across languages (Drift) -----
    // the assumption check beside q248's ANOVA: F on |x - median_g|;
    // integer values make medians and deviation moments engine-exact
    QuerySpec("q275_brown_forsythe", ((s, dir) => {
      StatTests.brownForsythe(read(s, dir, "documents"), "lang", "n_chars")
        .select(col("n"), col("k"),
          (round(col("ss_between"), 2) + lit(0.0)).as("ss_between"),
          (round(col("ss_within"), 2) + lit(0.0)).as("ss_within"),
          (round(col("f"), 6) + lit(0.0)).as("f"))
    }),
      // per-group exact medians -> |x - m_g| -> the q248 moment identities
      """WITH b AS (SELECT lang g, n_chars::DOUBLE v FROM documents
                WHERE lang IS NOT NULL AND n_chars IS NOT NULL),
         md AS (SELECT g, quantile_cont(v, 0.5) m FROM b GROUP BY 1),
         z AS (SELECT b.g, abs(b.v - md.m) z FROM b JOIN md USING (g)),
         gg AS (SELECT g, count(*)::BIGINT ng, sum(z) s, sum(z * z) q
                FROM z GROUP BY 1),
         t AS (SELECT sum(ng)::BIGINT n, count(*)::BIGINT k,
                 sum(s * s / ng) sg, sum(s) st, sum(q) qt FROM gg)
         SELECT n, k,
           round(sg - st * st / n, 2) + 0.0 AS ss_between,
           round(qt - sg, 2) + 0.0 AS ss_within,
           round(((sg - st * st / n) / (k - 1)) / ((qt - sg) / (n - k)), 6)
             + 0.0 AS f
         FROM t"""),

    // ---- Kendall tau-b on quantity vs price bucket (Association) ----------
    // pair counting via the densified distinct-cell grid + two chained
    // PARTITIONED prefix sums — C/D/tie masses are integer-exact, only
    // tau/z round
    QuerySpec("q278_kendall_tau", ((s, dir) => {
      val li = read(s, dir, "lineitem").select(col("l_quantity").as("x"),
        floor(col("l_extendedprice") / 5000).as("y"))
      graft.profile.Association.kendallTau(li, "x", "y")
        .select(col("n"), col("n_cells"), col("concordant"), col("discordant"),
          col("ties_x"), col("ties_y"),
          (round(col("tau_b"), 6) + lit(0.0)).as("tau_b"),
          (round(col("z"), 6) + lit(0.0)).as("z"))
    }),
      // same densified-grid dominance counting: two chained partitioned
      // prefix sums over the observed-x x observed-y grid, scipy's
      // tie-corrected variance for z
      """WITH p AS (SELECT l_quantity::DOUBLE x,
                  floor(l_extendedprice / 5000)::DOUBLE y
                FROM lineitem
                WHERE l_quantity IS NOT NULL AND l_extendedprice IS NOT NULL),
         sparse AS (SELECT x, y, count(*)::BIGINT n FROM p GROUP BY 1, 2),
         grid AS (SELECT xs.x, ys.y, coalesce(s.n, 0)::BIGINT n
                FROM (SELECT DISTINCT x FROM sparse) xs
                CROSS JOIN (SELECT DISTINCT y FROM sparse) ys
                LEFT JOIN sparse s ON s.x = xs.x AND s.y = ys.y),
         aa AS (SELECT x, y, n,
                  coalesce(sum(n) OVER (PARTITION BY y ORDER BY x
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)::DOUBLE a
                FROM grid),
         bb AS (SELECT x, y, n, a,
                  coalesce(sum(a) OVER (PARTITION BY x ORDER BY y
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) b,
                  sum(a) OVER (PARTITION BY x) atot
                FROM aa),
         core AS (SELECT sum(n)::BIGINT n,
                  sum(CASE WHEN n > 0 THEN 1 ELSE 0 END)::BIGINT n_cells,
                  sum(n::DOUBLE * b) c, sum(n::DOUBLE * (atot - a - b)) d
                FROM bb),
         tx AS (SELECT sum(t * (t - 1) / 2) pairs,
                  sum(t * (t - 1) * (2 * t + 5)) v,
                  sum(t * (t - 1)) t1, sum(t * (t - 1) * (t - 2)) t2
                FROM (SELECT count(*)::DOUBLE t FROM p GROUP BY x) g),
         ty AS (SELECT sum(t * (t - 1) / 2) pairs,
                  sum(t * (t - 1) * (2 * t + 5)) v,
                  sum(t * (t - 1)) t1, sum(t * (t - 1) * (t - 2)) t2
                FROM (SELECT count(*)::DOUBLE t FROM p GROUP BY y) g),
         f AS (SELECT core.n, core.n_cells, core.c, core.d, core.n::DOUBLE nd,
                 tx.pairs txp, tx.v txv, tx.t1 txt1, tx.t2 txt2,
                 ty.pairs typ, ty.v tyv, ty.t1 tyt1, ty.t2 tyt2
               FROM core, tx, ty)
         SELECT n, n_cells, c AS concordant, d AS discordant,
           txp AS ties_x, typ AS ties_y,
           round((c - d) / sqrt((nd * (nd - 1) / 2 - txp)
             * (nd * (nd - 1) / 2 - typ)), 6) + 0.0 AS tau_b,
           round((c - d) / sqrt((nd * (nd - 1) * (2 * nd + 5) - txv - tyv) / 18
             + txt1 * tyt1 / (2 * nd * (nd - 1))
             + txt2 * tyt2 / (9 * nd * (nd - 1) * (nd - 2))), 6) + 0.0 AS z
         FROM f"""),

    // ---- Somers' D: does quantity PREDICT the price bucket? ----------------
    // the asymmetric concordance (d_{Y|X} excludes predictor ties from the
    // denominator; = 2*AUC-1 for binary Y) over the q278 machinery
    QuerySpec("q363_somers_d", ((s, dir) => {
      val li = read(s, dir, "lineitem").select(col("l_quantity").as("x"),
        floor(col("l_extendedprice") / 5000).as("y"))
      graft.profile.Association.somersD(li, "x", "y")
        .select(col("n"), col("n_cells"), col("concordant"),
          col("discordant"), col("ties_x"), col("ties_y"),
          (round(col("d_y_given_x"), 6) + lit(0.0)).as("d_y_given_x"),
          (round(col("d_x_given_y"), 6) + lit(0.0)).as("d_x_given_y"))
    }),
      // the q278 grid CTEs with the Somers final ratios: predictor ties
      // leave the denominator per direction
      """WITH p AS (SELECT l_quantity::DOUBLE x,
                  floor(l_extendedprice / 5000)::DOUBLE y
                FROM lineitem
                WHERE l_quantity IS NOT NULL AND l_extendedprice IS NOT NULL),
         sparse AS (SELECT x, y, count(*)::BIGINT n FROM p GROUP BY 1, 2),
         grid AS (SELECT xs.x, ys.y, coalesce(s.n, 0)::BIGINT n
                FROM (SELECT DISTINCT x FROM sparse) xs
                CROSS JOIN (SELECT DISTINCT y FROM sparse) ys
                LEFT JOIN sparse s ON s.x = xs.x AND s.y = ys.y),
         aa AS (SELECT x, y, n,
                  coalesce(sum(n) OVER (PARTITION BY y ORDER BY x
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)::DOUBLE a
                FROM grid),
         bb AS (SELECT x, y, n, a,
                  coalesce(sum(a) OVER (PARTITION BY x ORDER BY y
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) b,
                  sum(a) OVER (PARTITION BY x) atot
                FROM aa),
         core AS (SELECT sum(n)::BIGINT n,
                  sum(CASE WHEN n > 0 THEN 1 ELSE 0 END)::BIGINT n_cells,
                  sum(n::DOUBLE * b) c, sum(n::DOUBLE * (atot - a - b)) d
                FROM bb),
         tx AS (SELECT sum(t * (t - 1) / 2) pairs
                FROM (SELECT count(*)::DOUBLE t FROM p GROUP BY x) g),
         ty AS (SELECT sum(t * (t - 1) / 2) pairs
                FROM (SELECT count(*)::DOUBLE t FROM p GROUP BY y) g),
         f AS (SELECT core.n, core.n_cells, core.c, core.d,
                 core.n::DOUBLE nd, tx.pairs txp, ty.pairs typ
               FROM core, tx, ty)
         SELECT n, n_cells, c AS concordant, d AS discordant,
           txp AS ties_x, typ AS ties_y,
           round((c - d) / (nd * (nd - 1) / 2 - txp), 6) + 0.0
             AS d_y_given_x,
           round((c - d) / (nd * (nd - 1) / 2 - typ), 6) + 0.0
             AS d_x_given_y
         FROM f"""),

    // ---- Cliff's delta effect size en vs de doc lengths (Drift) -----------
    // the ordinal effect-size companion of q229's Mann-Whitney U: exact
    // cross-pair counts from the distinct-value cumsum, delta and the
    // probability of superiority
    QuerySpec("q279_cliffs_delta", ((s, dir) => {
      val docs = read(s, dir, "documents")
      StatTests.cliffsDelta(docs.filter(col("lang") === "en"),
          docs.filter(col("lang") === "de"), "n_chars")
        .select(col("n_a"), col("n_b"), col("gt"), col("lt"),
          col("ties").as("tie_pairs"),
          (round(col("delta"), 6) + lit(0.0)).as("delta"),
          (round(col("p_superiority"), 6) + lit(0.0)).as("p_superiority"))
    }),
      // exact cross-pair counts from the exclusive distinct-value cumsum —
      // gt = sum n_a(v) * (#b below v), lt symmetric, ties at equal v
      """WITH va AS (SELECT n_chars::DOUBLE v, count(*)::BIGINT na
                FROM documents WHERE lang = 'en' AND n_chars IS NOT NULL
                GROUP BY 1),
         vb AS (SELECT n_chars::DOUBLE v, count(*)::BIGINT nb
                FROM documents WHERE lang = 'de' AND n_chars IS NOT NULL
                GROUP BY 1),
         j AS (SELECT coalesce(va.v, vb.v) v, coalesce(na, 0) na,
                 coalesce(nb, 0) nb
               FROM va FULL OUTER JOIN vb ON va.v = vb.v),
         c AS (SELECT v, na, nb,
                 coalesce(sum(na) OVER (ORDER BY v
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) ba,
                 coalesce(sum(nb) OVER (ORDER BY v
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) bb
               FROM j),
         t AS (SELECT sum(na)::BIGINT tna, sum(nb)::BIGINT tnb,
                 sum(na::DOUBLE * bb) gt, sum(nb::DOUBLE * ba) lt,
                 sum(na::DOUBLE * nb) tp
               FROM c)
         SELECT tna AS n_a, tnb AS n_b, gt, lt, tp AS tie_pairs,
           round((gt - lt) / (tna::DOUBLE * tnb), 6) + 0.0 AS delta,
           round((gt + 0.5 * tp) / (tna::DOUBLE * tnb), 6) + 0.0
             AS p_superiority
         FROM t"""),

    // ---- D'Agostino-Pearson K2 normality test on doc lengths (Drift) ------
    // one moment pass -> skew/kurtosis z transforms; chi2(2) survival is
    // the closed form exp(-K2/2), engine-identical
    QuerySpec("q281_dagostino", ((s, dir) => {
      StatTests.dagostinoK2(read(s, dir, "documents"), "n_chars")
        .select(col("n"),
          (round(col("g1"), 6) + lit(0.0)).as("g1"),
          (round(col("b2"), 6) + lit(0.0)).as("b2"),
          (round(col("z_skew"), 6) + lit(0.0)).as("z_skew"),
          (round(col("z_kurt"), 6) + lit(0.0)).as("z_kurt"),
          (round(col("k2"), 6) + lit(0.0)).as("k2"),
          (round(col("p_value"), 6) + lit(0.0)).as("p_value"))
    }),
      // same raw-power-sum central moments + transform algebra as the Scala
      // scalar path; cbrt handles the negative cube-root branch identically
      """WITH s AS (SELECT count(*)::BIGINT n, sum(n_chars::DOUBLE) s1,
                  sum(pow(n_chars::DOUBLE, 2)) s2,
                  sum(pow(n_chars::DOUBLE, 3)) s3,
                  sum(pow(n_chars::DOUBLE, 4)) s4
                FROM documents WHERE n_chars IS NOT NULL),
         mo AS (SELECT n, n::DOUBLE nd, s2 / n - pow(s1 / n, 2) m2,
                  (s3 - 3 * (s1 / n) * s2 + 2 * n * pow(s1 / n, 3)) / n m3,
                  (s4 - 4 * (s1 / n) * s3 + 6 * pow(s1 / n, 2) * s2
                    - 3 * n * pow(s1 / n, 4)) / n m4
                FROM s),
         g AS (SELECT n, nd, m3 / pow(m2, 1.5) g1, m4 / (m2 * m2) b2 FROM mo),
         sk AS (SELECT n, nd, g1, b2,
                 g1 * sqrt((nd + 1) * (nd + 3) / (6 * (nd - 2))) y,
                 -1 + sqrt(2 * (3 * (nd * nd + 27 * nd - 70) * (nd + 1)
                   * (nd + 3) / ((nd - 2) * (nd + 5) * (nd + 7) * (nd + 9))
                   - 1)) w2
               FROM g),
         z1t AS (SELECT n, nd, g1, b2,
                  (1 / sqrt(ln(sqrt(w2)))) * ln(y / sqrt(2 / (w2 - 1))
                    + sqrt(y * y / (2 / (w2 - 1)) + 1)) z1
                FROM sk),
         ku AS (SELECT *,
                 (b2 - 3 * (nd - 1) / (nd + 1))
                   / sqrt(24 * nd * (nd - 2) * (nd - 3)
                     / (pow(nd + 1, 2) * (nd + 3) * (nd + 5))) xk,
                 6 * (nd * nd - 5 * nd + 2) / ((nd + 7) * (nd + 9))
                   * sqrt(6 * (nd + 3) * (nd + 5)
                     / (nd * (nd - 2) * (nd - 3))) sb1
               FROM z1t),
         ku2 AS (SELECT *, 6 + 8 / sb1 * (2 / sb1
                   + sqrt(1 + 4 / (sb1 * sb1))) aa FROM ku),
         z2t AS (SELECT n, g1, b2, z1,
                  ((1 - 2 / (9 * aa)) - cbrt((1 - 2 / aa)
                    / (1 + xk * sqrt(2 / (aa - 4))))) / sqrt(2 / (9 * aa)) z2
                FROM ku2),
         f AS (SELECT n, g1, b2, z1, z2, z1 * z1 + z2 * z2 k2 FROM z2t)
         SELECT n, round(g1, 6) + 0.0 AS g1, round(b2, 6) + 0.0 AS b2,
           round(z1, 6) + 0.0 AS z_skew, round(z2, 6) + 0.0 AS z_kurt,
           round(k2, 6) + 0.0 AS k2,
           round(exp(-k2 / 2), 6) + 0.0 AS p_value
         FROM f"""),

    // ---- single mean-shift changepoint on the hourly purchase rate --------
    // "WHERE did the level change": argmax of the scaled CUSUM over the
    // zero-filled spine; integer counts keep every prefix exact, earliest
    // hour wins ties; TakeOrdered(1), no global sort
    QuerySpec("q364_changepoint", ((s, dir) => {
      val ev = EventsSource.read(s, s"$dir/events.parquet")
        .filter(col("ts").isNotNull)
      val hourly = ev
        .groupBy(floor(unix_timestamp(col("ts")) / 3600).as("h"))
        .agg(sum(when(col("event_type") === "purchase", 1L).otherwise(0L))
          .as("y"))
      val spine = ev
        .agg(floor(unix_timestamp(min(col("ts"))) / 3600).as("lo"),
          floor(unix_timestamp(max(col("ts"))) / 3600).as("hi"))
        .select(explode(sequence(col("lo"), col("hi"))).as("h"))
      val series = spine.join(hourly, Seq("h"), "left")
        .na.fill(0L, Seq("y"))
      StatTests.changepointMean(series, "h", "y")
        .select(col("n"), col("change_at"), col("k"),
          (round(col("stat"), 6) + lit(0.0)).as("stat"),
          (round(col("mean_before"), 6) + lit(0.0)).as("mean_before"),
          (round(col("mean_after"), 6) + lit(0.0)).as("mean_after"))
    }),
      // the purchase-rate hour spine; scaled-CUSUM argmax with the same
      // double expressions, earliest-hour tie-break on the unrounded stat
      """WITH e AS (SELECT floor(epoch(ts) / 3600)::BIGINT h, event_type
                FROM events WHERE ts IS NOT NULL),
         bounds AS (SELECT min(h) AS lo, max(h) AS hi FROM e),
         sp AS (SELECT unnest(range(lo, hi + 1)) AS h FROM bounds),
         hc AS (SELECT h, sum(CASE WHEN event_type = 'purchase'
                  THEN 1 ELSE 0 END)::BIGINT AS y
               FROM e GROUP BY 1),
         ser AS (SELECT sp.h AS t, coalesce(y, 0)::BIGINT AS y
                FROM sp LEFT JOIN hc ON sp.h = hc.h),
         nn AS (SELECT count(*)::BIGINT n, count(*)::DOUBLE nd,
                 sum(y)::BIGINT sn, sum(y)::DOUBLE snd FROM ser),
         w AS (SELECT t, y,
                 sum(y) OVER (ORDER BY t ROWS UNBOUNDED PRECEDING) sk,
                 row_number() OVER (ORDER BY t) k
               FROM ser),
         st AS (SELECT t, k, sk::DOUBLE skd,
                 abs(sk::DOUBLE - k::DOUBLE * snd / nd)
                   / sqrt(k::DOUBLE * (nd - k::DOUBLE) / nd) stat
               FROM w, nn WHERE k < n),
         best AS (SELECT * FROM st ORDER BY stat DESC, t ASC LIMIT 1)
         SELECT n, t AS change_at, k::BIGINT AS k,
           round(stat, 6) + 0.0 AS stat,
           round(skd / k, 6) + 0.0 AS mean_before,
           round((sn - skd) / (n - k), 6) + 0.0 AS mean_after
         FROM best, nn"""),

    // ---- Granger causality: do views LEAD purchases hour-to-hour? ---------
    // lag-1 F-test of "x_{t-1} adds forecast power over y's own lag" on
    // the zero-filled hourly view/purchase rates; all ten OLS moments
    // long-exact; 3.8415 = the F(1,inf) 5% point
    QuerySpec("q357_granger", ((s, dir) => {
      val ev = EventsSource.read(s, s"$dir/events.parquet")
        .filter(col("ts").isNotNull)
      val hourly = ev
        .groupBy(floor(unix_timestamp(col("ts")) / 3600).as("h"))
        .agg(sum(when(col("event_type") === "view", 1L).otherwise(0L))
            .as("x"),
          sum(when(col("event_type") === "purchase", 1L).otherwise(0L))
            .as("y"))
      val spine = ev
        .agg(floor(unix_timestamp(min(col("ts"))) / 3600).as("lo"),
          floor(unix_timestamp(max(col("ts"))) / 3600).as("hi"))
        .select(explode(sequence(col("lo"), col("hi"))).as("h"))
      val series = spine.join(hourly, Seq("h"), "left")
        .na.fill(0L, Seq("x", "y"))
      StatTests.grangerLag1(series, "h", "x", "y")
        .select(col("n"),
          (round(col("beta_own"), 6) + lit(0.0)).as("beta_own"),
          (round(col("beta_cross"), 6) + lit(0.0)).as("beta_cross"),
          (round(col("f"), 6) + lit(0.0)).as("f"),
          col("df2"), col("granger_5pct"))
    }),
      // the two-rate hour spine; restricted vs unrestricted OLS from ten
      // exact BIGINT moments, centered/2x2/RSS arithmetic mirrored
      // expression-for-expression
      """WITH e AS (SELECT floor(epoch(ts) / 3600)::BIGINT h, event_type
                FROM events WHERE ts IS NOT NULL),
         bounds AS (SELECT min(h) AS lo, max(h) AS hi FROM e),
         sp AS (SELECT unnest(range(lo, hi + 1)) AS h FROM bounds),
         hc AS (SELECT h,
                 sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)
                   ::BIGINT AS x,
                 sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                   ::BIGINT AS y
               FROM e GROUP BY 1),
         ser AS (SELECT sp.h AS t, coalesce(x, 0)::BIGINT AS x,
                 coalesce(y, 0)::BIGINT AS y
                FROM sp LEFT JOIN hc ON sp.h = hc.h),
         pr AS (SELECT c.y AS z, l.y AS w, l.x AS v
                FROM ser c JOIN ser l ON c.t = l.t + 1),
         mm AS (SELECT count(*)::BIGINT n, sum(z)::BIGINT sz,
                 sum(w)::BIGINT sw, sum(v)::BIGINT sv,
                 sum(z * z)::BIGINT szz, sum(w * w)::BIGINT sww,
                 sum(v * v)::BIGINT svv, sum(z * w)::BIGINT szw,
                 sum(z * v)::BIGINT szv, sum(w * v)::BIGINT swv
               FROM pr),
         cc AS (SELECT n,
                 szz - sz::DOUBLE * sz / n AS czz,
                 sww - sw::DOUBLE * sw / n AS cww,
                 svv - sv::DOUBLE * sv / n AS cvv,
                 szw - sz::DOUBLE * sw / n AS czw,
                 szv - sz::DOUBLE * sv / n AS czv,
                 swv - sw::DOUBLE * sv / n AS cwv
               FROM mm),
         sl AS (SELECT n, czz, czw, czv,
                 czz - czw / cww * czw AS rssr,
                 cww * cvv - cwv * cwv AS det,
                 (cvv * czw - cwv * czv) AS nbo,
                 (cww * czv - cwv * czw) AS nbc
               FROM cc),
         fin AS (SELECT n, nbo / det AS bo, nbc / det AS bc,
                 czz - nbo / det * czw - nbc / det * czv AS rssu, rssr
               FROM sl)
         SELECT n, round(bo, 6) + 0.0 AS beta_own,
           round(bc, 6) + 0.0 AS beta_cross,
           round((rssr - rssu) * (n - 3.0) / rssu, 6) + 0.0 AS f,
           (n - 3)::BIGINT AS df2,
           ((rssr - rssu) * (n - 3.0) / rssu > 3.8415) AS granger_5pct
         FROM fin"""),

    // ---- Dickey-Fuller unit root on the hourly event rate (Drift) ---------
    // "does the rate mean-revert or wander": OLS of the hourly delta on
    // the lagged level over the q282 zero-filled series; integer counts
    // keep every OLS moment long-exact; -2.86 = the 5% constant-only
    // Fuller critical value
    QuerySpec("q355_dickey_fuller", ((s, dir) => {
      val ev = EventsSource.read(s, s"$dir/events.parquet")
        .filter(col("ts").isNotNull)
      val hourly = ev
        .groupBy(floor(unix_timestamp(col("ts")) / 3600).as("h"))
        .agg(count(lit(1)).as("y"))
      val spine = ev
        .agg(floor(unix_timestamp(min(col("ts"))) / 3600).as("lo"),
          floor(unix_timestamp(max(col("ts"))) / 3600).as("hi"))
        .select(explode(sequence(col("lo"), col("hi"))).as("h"))
      val series = spine.join(hourly, Seq("h"), "left")
        .na.fill(0L, Seq("y"))
      StatTests.dickeyFuller(series, "h", "y")
        .select(col("n"),
          (round(col("gamma"), 6) + lit(0.0)).as("gamma"),
          (round(col("se_gamma"), 6) + lit(0.0)).as("se_gamma"),
          (round(col("df_stat"), 6) + lit(0.0)).as("df_stat"),
          col("stationary_5pct"))
    }),
      // the same zero-filled hour spine; lag pairs via the t = t' + 1
      // self-join; all six OLS moments are exact BIGINT sums, the gamma/
      // SE/t arithmetic mirrors the driver expression-for-expression
      """WITH e AS (SELECT floor(epoch(ts) / 3600)::BIGINT h FROM events
                WHERE ts IS NOT NULL),
         bounds AS (SELECT min(h) AS lo, max(h) AS hi FROM e),
         sp AS (SELECT unnest(range(lo, hi + 1)) AS h FROM bounds),
         hc AS (SELECT h, count(*)::BIGINT AS y FROM e GROUP BY 1),
         ser AS (SELECT sp.h AS t, coalesce(y, 0)::BIGINT AS y
                FROM sp LEFT JOIN hc ON sp.h = hc.h),
         pr AS (SELECT l.y AS x, (c.y - l.y) AS dy
                FROM ser c JOIN ser l ON c.t = l.t + 1),
         mm AS (SELECT count(*)::BIGINT AS n, sum(x)::BIGINT AS sx,
                 sum(dy)::BIGINT AS sy, sum(x * x)::BIGINT AS sxx,
                 sum(x * dy)::BIGINT AS sxy, sum(dy * dy)::BIGINT AS syy
               FROM pr),
         cc AS (SELECT n, sxx - sx::DOUBLE * sx / n AS cxx,
                 sxy - sx::DOUBLE * sy / n AS cxy,
                 syy - sy::DOUBLE * sy / n AS cyy
               FROM mm),
         r AS (SELECT n, cxy / cxx AS gamma,
                 sqrt(greatest((cyy - cxy / cxx * cxy) / (n - 2.0), 0.0)
                   / cxx) AS se
               FROM cc)
         SELECT n, round(gamma, 6) + 0.0 AS gamma,
           round(se, 6) + 0.0 AS se_gamma,
           round(gamma / se, 6) + 0.0 AS df_stat,
           (gamma / se < -2.86) AS stationary_5pct
         FROM r"""),

    // ---- Ljung-Box white-noise test on the hourly event rate (Drift) ------
    // zero-filled calendar-hour series; lag products via a shifted-index
    // equi-join, chi2(10) survival in the closed even-dof form
    QuerySpec("q282_ljung_box", ((s, dir) => {
      val ev = EventsSource.read(s, s"$dir/events.parquet")
        .filter(col("ts").isNotNull)
      val hourly = ev
        .groupBy(floor(unix_timestamp(col("ts")) / 3600).as("h"))
        .agg(count(lit(1)).cast("double").as("y"))
      val spine = ev
        .agg(floor(unix_timestamp(min(col("ts"))) / 3600).as("lo"),
          floor(unix_timestamp(max(col("ts"))) / 3600).as("hi"))
        .select(explode(sequence(col("lo"), col("hi"))).as("h"))
      val series = spine.join(hourly, Seq("h"), "left")
        .na.fill(0.0, Seq("y"))
      StatTests.ljungBox(series, "h", "y", maxLag = 10)
        .select(col("n"), col("lags"),
          (round(col("r1"), 6) + lit(0.0)).as("r1"),
          (round(col("q_stat"), 6) + lit(0.0)).as("q_stat"),
          (round(col("p_value"), 6) + lit(0.0)).as("p_value"))
    }),
      // zero-filled hour spine; r_k via the h = h' + k self-join; chi2(10)
      // survival = exp(-q/2) * sum_{j<5} (q/2)^j / j!
      """WITH e AS (SELECT floor(epoch(ts) / 3600)::BIGINT h FROM events
                WHERE ts IS NOT NULL),
         hourly AS (SELECT h, count(*)::DOUBLE y FROM e GROUP BY 1),
         spine AS (SELECT unnest(range((SELECT min(h) FROM e),
                  (SELECT max(h) FROM e) + 1)) h),
         series AS (SELECT spine.h, coalesce(hourly.y, 0) y
                FROM spine LEFT JOIN hourly USING (h)),
         st AS (SELECT count(*)::BIGINT n, sum(y) / count(*) mu,
                  sum(y * y) - count(*) * pow(sum(y) / count(*), 2) ss
                FROM series),
         lagk AS (SELECT t.k, a.y ya, b.y yb
                FROM series a
                CROSS JOIN (SELECT unnest(range(1, 11)) k) t
                JOIN series b ON a.h = b.h + t.k),
         rk AS (SELECT k, st.n,
                  sum((ya - st.mu) * (yb - st.mu)) / st.ss r
                FROM lagk, st GROUP BY k, st.mu, st.ss, st.n),
         qq AS (SELECT n, n::DOUBLE * (n + 2) * sum(r * r / (n - k)) q,
                  max(CASE WHEN k = 1 THEN r END) r1
                FROM rk GROUP BY n)
         SELECT n, 10 AS lags, round(r1, 6) + 0.0 AS r1,
           round(q, 6) + 0.0 AS q_stat,
           round(least(1.0, exp(-q / 2) * (1 + q / 2 + pow(q / 2, 2) / 2
             + pow(q / 2, 3) / 6 + pow(q / 2, 4) / 24)), 6) + 0.0 AS p_value
         FROM qq"""),

    // ---- Fisher exact test: German docs vs long docs (Association) --------
    // exact hypergeometric tails over the margin-bounded support, log-space
    // binomials via the lgamma kernel
    QuerySpec("q283_fisher_exact", ((s, dir) => {
      val docs = read(s, dir, "documents")
        .filter(col("lang").isNotNull && col("n_chars").isNotNull)
        .select((col("lang") === "de").as("a"), (col("n_chars") > 900).as("b"))
      graft.profile.Association.fisherExact(docs, "a", "b")
        .select(col("a11"), col("a10"), col("a01"), col("a00"),
          (round(col("odds_ratio"), 6) + lit(0.0)).as("odds_ratio"),
          (round(col("p_two_sided"), 6) + lit(0.0)).as("p_two_sided"),
          (round(col("p_greater"), 6) + lit(0.0)).as("p_greater"),
          (round(col("p_less"), 6) + lit(0.0)).as("p_less"))
    }),
      // same hypergeometric enumeration with DuckDB's lgamma; the 1e-7
      // relative slack keeps mirror-table inclusion engine-stable
      """WITH c AS (SELECT
           sum(CASE WHEN lang = 'de' AND n_chars > 900 THEN 1 ELSE 0 END)::BIGINT a11,
           sum(CASE WHEN lang = 'de' AND n_chars <= 900 THEN 1 ELSE 0 END)::BIGINT a10,
           sum(CASE WHEN lang <> 'de' AND n_chars > 900 THEN 1 ELSE 0 END)::BIGINT a01,
           sum(CASE WHEN lang <> 'de' AND n_chars <= 900 THEN 1 ELSE 0 END)::BIGINT a00
         FROM documents WHERE lang IS NOT NULL AND n_chars IS NOT NULL),
         m AS (SELECT *, a11 + a10 r1, a01 + a00 r2, a11 + a01 c1,
                 a11 + a10 + a01 + a00 n
               FROM c),
         obs AS (SELECT *,
                 lgamma(r1 + 1.0) - lgamma(a11 + 1.0) - lgamma(r1 - a11 + 1.0)
                 + lgamma(r2 + 1.0) - lgamma(c1 - a11 + 1.0)
                   - lgamma(r2 - c1 + a11 + 1.0)
                 - (lgamma(n + 1.0) - lgamma(c1 + 1.0)
                   - lgamma(n - c1 + 1.0)) lpobs
               FROM m),
         ks AS (SELECT obs.*,
                 unnest(range(greatest(0, c1 - r2), least(r1, c1) + 1)) k
               FROM obs),
         lp AS (SELECT *,
                 lgamma(r1 + 1.0) - lgamma(k + 1.0) - lgamma(r1 - k + 1.0)
                 + lgamma(r2 + 1.0) - lgamma(c1 - k + 1.0)
                   - lgamma(r2 - c1 + k + 1.0)
                 - (lgamma(n + 1.0) - lgamma(c1 + 1.0)
                   - lgamma(n - c1 + 1.0)) l
               FROM ks),
         t AS (SELECT any_value(a11) a11, any_value(a10) a10,
                 any_value(a01) a01, any_value(a00) a00,
                 least(1.0, sum(CASE WHEN l <= lpobs + 1e-7
                   THEN exp(l) ELSE 0 END)) p2,
                 least(1.0, sum(CASE WHEN k >= a11
                   THEN exp(l) ELSE 0 END)) pg,
                 least(1.0, sum(CASE WHEN k <= a11
                   THEN exp(l) ELSE 0 END)) pl
               FROM lp)
         SELECT a11, a10, a01, a00,
           CASE WHEN a10 > 0 AND a01 > 0 THEN
             round(a11::DOUBLE * a00 / (a10::DOUBLE * a01), 6) + 0.0
           END AS odds_ratio,
           round(p2, 6) + 0.0 AS p_two_sided,
           round(pg, 6) + 0.0 AS p_greater,
           round(pl, 6) + 0.0 AS p_less
         FROM t"""),

    // ---- Cochran-Armitage trend: error rate across day quarters -----------
    // one linear-trend degree of freedom over the ordered 6-hour bins
    QuerySpec("q292_cochran_armitage", ((s, dir) => {
      val ev = EventsSource.read(s, s"$dir/events.parquet")
        .filter(col("ts").isNotNull && col("event_type").isNotNull)
        .select((hour(col("ts")) / 6).cast("int").cast("double").as("w"),
          (col("event_type") === "error").as("s"))
      graft.profile.Association.cochranArmitage(ev, "w", "s")
        .select(col("n"), col("k_groups"),
          (round(col("slope_num"), 6) + lit(0.0)).as("slope_num"),
          (round(col("z"), 6) + lit(0.0)).as("z"),
          (round(col("chi2_trend"), 6) + lit(0.0)).as("chi2_trend"))
    }),
      // k-bounded count table -> the exact one-degree trend algebra
      """WITH b AS (SELECT (hour(ts) // 6)::DOUBLE w, event_type = 'error' s
                FROM events WHERE ts IS NOT NULL AND event_type IS NOT NULL),
         g AS (SELECT w, count(*)::BIGINT ni,
                 sum(CASE WHEN s THEN 1 ELSE 0 END)::BIGINT ki
               FROM b GROUP BY 1),
         a AS (SELECT sum(ni)::BIGINT n, count(*)::BIGINT kg,
                 sum(ki)::DOUBLE kk, sum(ki * w) skw, sum(ni * w) snw,
                 sum(ni * w * w) snw2
               FROM g),
         f AS (SELECT n, kg, kk / n pbar, skw, snw, snw2, n::DOUBLE nd
               FROM a)
         SELECT n, kg AS k_groups,
           round(skw - pbar * snw, 6) + 0.0 AS slope_num,
           CASE WHEN pbar * (1 - pbar) * (snw2 - snw * snw / nd) > 0 THEN
             round((skw - pbar * snw) / sqrt(pbar * (1 - pbar)
               * (snw2 - snw * snw / nd)), 6) + 0.0 END AS z,
           CASE WHEN pbar * (1 - pbar) * (snw2 - snw * snw / nd) > 0 THEN
             round(pow(skw - pbar * snw, 2) / (pbar * (1 - pbar)
               * (snw2 - snw * snw / nd)), 6) + 0.0 END AS chi2_trend
         FROM f"""),

    // ---- periodogram power at the daily/weekly lines (Drift) --------------
    // DFT power at caller-named periods over the zero-filled hourly series;
    // the hour index is REBASED to 0..n-1 so cos/sin arguments stay small
    // (large-argument reduction is where libm implementations drift)
    QuerySpec("q303_periodogram", ((s, dir) => {
      val series = rebasedHourlySeries(s, dir)
      StatTests.periodogramPower(series, "t", "y", Seq(24, 168))
        .select(col("period"), col("n"),
          (round(col("c"), 4) + lit(0.0)).as("c"),
          (round(col("s"), 4) + lit(0.0)).as("s"),
          (round(col("power"), 2) + lit(0.0)).as("power"),
          (round(col("frac"), 6) + lit(0.0)).as("frac"))
        .gateOrdered(col("period"))
    }),
      // rebased zero-filled hourly series; same cos/sin sums per period
      """WITH e AS (SELECT floor(epoch(ts) / 3600)::BIGINT h FROM events
                WHERE ts IS NOT NULL),
         hourly AS (SELECT h, count(*)::DOUBLE y FROM e GROUP BY 1),
         spine AS (SELECT unnest(range((SELECT min(h) FROM e),
                  (SELECT max(h) FROM e) + 1)) h),
         series AS (SELECT (spine.h - (SELECT min(h) FROM e))::BIGINT t,
                  coalesce(hourly.y, 0) y
                FROM spine LEFT JOIN hourly USING (h)),
         st AS (SELECT count(*)::BIGINT n, avg(y) mu,
                 sum(y * y) - count(*) * avg(y) * avg(y) ss
               FROM series),
         p AS (SELECT unnest([24, 168]) period),
         a AS (SELECT p.period,
                 sum((y - st.mu) * cos(2 * pi() / p.period * t)) c,
                 sum((y - st.mu) * sin(2 * pi() / p.period * t)) s
               FROM series, st, p GROUP BY p.period),
         f AS (SELECT a.period, a.c, a.s, st.n, st.ss FROM a, st)
         SELECT period, n, round(c, 4) + 0.0 AS c, round(s, 4) + 0.0 AS s,
           round(c * c + s * s, 2) + 0.0 AS power,
           CASE WHEN ss > 0 THEN
             round((c * c + s * s) * 2 / (n * ss), 6) + 0.0 END AS frac
         FROM f ORDER BY period"""),

    // ---- Hurst exponent (R/S) of the hourly load (Drift) ------------------
    // long-memory diagnostic: block-partitioned rescaled ranges at four
    // scales, log-log fit
    QuerySpec("q304_hurst", ((s, dir) => {
      val series = rebasedHourlySeries(s, dir)
      StatTests.hurstRS(series, "t", "y", Seq(8, 16, 32, 64))
        .select(col("b"), col("n_blocks"),
          (round(col("mean_rs"), 6) + lit(0.0)).as("mean_rs"),
          (round(col("hurst"), 6) + lit(0.0)).as("hurst"),
          (round(col("r2"), 6) + lit(0.0)).as("r2"))
        .gateOrdered(col("b"))
    }),
      // same block partitioning, mean-adjusted cumulative ranges, and
      // log-log fit over the four scales
      """WITH e AS (SELECT floor(epoch(ts) / 3600)::BIGINT h FROM events
                WHERE ts IS NOT NULL),
         hourly AS (SELECT h, count(*)::DOUBLE y FROM e GROUP BY 1),
         spine AS (SELECT unnest(range((SELECT min(h) FROM e),
                  (SELECT max(h) FROM e) + 1)) h),
         series AS (SELECT (spine.h - (SELECT min(h) FROM e))::BIGINT t,
                  coalesce(hourly.y, 0) y
                FROM spine LEFT JOIN hourly USING (h)),
         sc AS (SELECT unnest([8, 16, 32, 64]) b),
         tagged AS (SELECT sc.b, series.t // sc.b blk, series.t, series.y
                FROM series, sc),
         fullb AS (SELECT b, blk FROM tagged GROUP BY 1, 2
                HAVING count(*) = b),
         blocks AS (SELECT tg.* FROM tagged tg JOIN fullb USING (b, blk)),
         wm AS (SELECT b, blk, t, y,
                 avg(y) OVER (PARTITION BY b, blk) mu
               FROM blocks),
         cums AS (SELECT b, blk, y,
                 sum(y - mu) OVER (PARTITION BY b, blk ORDER BY t
                   ROWS UNBOUNDED PRECEDING) cum
               FROM wm),
         rs AS (SELECT b, blk,
                 max(cum) - least(min(cum), 0) r,
                 sqrt(greatest(avg(y * y) - avg(y) * avg(y), 0)) sg
               FROM cums GROUP BY 1, 2),
         ms AS (SELECT b, count(*)::BIGINT n_blocks, avg(r / sg) mean_rs
               FROM rs WHERE sg > 0 GROUP BY 1),
         pts AS (SELECT ln(b::DOUBLE) x, ln(mean_rs) y FROM ms
               WHERE mean_rs > 0),
         mm AS (SELECT avg(x) mx, avg(y) my FROM pts),
         ssq AS (SELECT sum((x - mx) * (x - mx)) sxx,
                 sum((x - mx) * (y - my)) sxy,
                 sum((y - my) * (y - my)) syy
               FROM pts, mm),
         fit AS (SELECT CASE WHEN sxx > 0 AND syy > 0 THEN sxy / sxx END hh,
                 CASE WHEN sxx > 0 AND syy > 0
                   THEN sxy * sxy / (sxx * syy) END r2
               FROM ssq)
         SELECT b::INT AS b, n_blocks, round(mean_rs, 6) + 0.0 AS mean_rs,
           round(hh, 6) + 0.0 AS hurst, round(r2, 6) + 0.0 AS r2
         FROM ms, fit ORDER BY b"""),

    // ---- Poisson overdispersion of per-user event counts (Drift) ----------
    // Fisher's index-of-dispersion test: is per-user load Poisson or
    // bursty? closed-form normal approximation on both engines
    QuerySpec("q302_overdispersion", ((s, dir) => {
      val perUser = EventsSource.read(s, s"$dir/events.parquet")
        .filter(col("user_id").isNotNull)
        .groupBy(col("user_id")).agg(count(lit(1)).as("c"))
      StatTests.overdispersionTest(perUser, "c")
        .select(col("n"),
          (round(col("mean"), 6) + lit(0.0)).as("mean"),
          (round(col("variance"), 6) + lit(0.0)).as("variance"),
          (round(col("dispersion"), 6) + lit(0.0)).as("dispersion"),
          (round(col("chi2"), 6) + lit(0.0)).as("chi2"),
          (round(col("z"), 6) + lit(0.0)).as("z"))
    }),
      // one keyed count + one moment reduce; same closed-form z
      """WITH u AS (SELECT user_id, count(*)::DOUBLE c FROM events
                WHERE user_id IS NOT NULL GROUP BY 1),
         m AS (SELECT count(*)::BIGINT n, avg(c) mu, var_samp(c) v FROM u)
         SELECT n, round(mu, 6) + 0.0 AS mean,
           round(v, 6) + 0.0 AS variance,
           round(v / mu, 6) + 0.0 AS dispersion,
           round((n - 1) * v / mu, 6) + 0.0 AS chi2,
           round(sqrt(2 * (n - 1) * v / mu) - sqrt(2.0 * (n - 1) - 1), 6)
             + 0.0 AS z
         FROM m"""),

    // ---- Jarque-Bera normality on doc lengths (Drift) ---------------------
    // one power-sum scan; chi2(2) survival is the exact exp(-jb/2)
    QuerySpec("q303_jarque_bera", ((s, dir) => {
      StatTests.jarqueBera(read(s, dir, "documents"), "n_chars")
        .select(col("n"),
          (round(col("g1"), 6) + lit(0.0)).as("g1"),
          (round(col("b2"), 6) + lit(0.0)).as("b2"),
          (round(col("jb"), 6) + lit(0.0)).as("jb"),
          (round(col("p_value"), 6) + lit(0.0)).as("p_value"))
    }),
      // the dagostino power-sum CTE chain, ending in the JB statistic and
      // the exact chi2(2) survival exp(-jb/2)
      """WITH s AS (SELECT count(*)::BIGINT n, sum(n_chars::DOUBLE) s1,
                  sum(pow(n_chars::DOUBLE, 2)) s2,
                  sum(pow(n_chars::DOUBLE, 3)) s3,
                  sum(pow(n_chars::DOUBLE, 4)) s4
                FROM documents WHERE n_chars IS NOT NULL),
         mo AS (SELECT n, n::DOUBLE nd, s2 / n - pow(s1 / n, 2) m2,
                  (s3 - 3 * (s1 / n) * s2 + 2 * n * pow(s1 / n, 3)) / n m3,
                  (s4 - 4 * (s1 / n) * s3 + 6 * pow(s1 / n, 2) * s2
                    - 3 * n * pow(s1 / n, 4)) / n m4
                FROM s),
         g AS (SELECT n, nd, m3 / pow(m2, 1.5) g1, m4 / (m2 * m2) b2 FROM mo),
         j AS (SELECT n, g1, b2,
                 nd / 6 * (g1 * g1 + (b2 - 3) * (b2 - 3) / 4) jb FROM g)
         SELECT n, round(g1, 6) + 0.0 AS g1, round(b2, 6) + 0.0 AS b2,
           round(jb, 6) + 0.0 AS jb,
           round(exp(-jb / 2), 6) + 0.0 AS p_value
         FROM j"""),

    // ---- Bartlett variance homogeneity across langs (Drift) ---------------
    // normal-theory companion of q275 brown_forsythe; per-group moments
    // only; df = 4 (even) so the survival is closed-form on both engines
    QuerySpec("q304_bartlett", ((s, dir) => {
      StatTests.bartlettTest(read(s, dir, "documents"), "lang", "n_chars")
        .select(col("n"), col("k"),
          (round(col("pooled_var"), 6) + lit(0.0)).as("pooled_var"),
          (round(col("statistic"), 6) + lit(0.0)).as("statistic"),
          col("df"),
          (round(col("p_value"), 6) + lit(0.0)).as("p_value"))
    }),
      // per-group sample variances from exact power sums; df = k-1 = 4 is
      // even, so the survival is the closed form exp(-x/2)(1 + x/2)
      """WITH g AS (SELECT lang, count(*)::BIGINT ng, sum(n_chars::DOUBLE) s,
                  sum(pow(n_chars::DOUBLE, 2)) q
                FROM documents
                WHERE lang IS NOT NULL AND n_chars IS NOT NULL
                GROUP BY 1 HAVING count(*) >= 2),
         v AS (SELECT ng, (q - s * s / ng) / (ng - 1) vg FROM g),
         t AS (SELECT sum(ng)::BIGINT n, count(*)::BIGINT k,
                 sum((ng - 1) * ln(vg)) slnv, sum(1.0 / (ng - 1)) sinv,
                 sum(vg * (ng - 1)) ssw
               FROM v),
         b AS (SELECT n, k, ssw / (n - k) sp2,
                 ((n - k) * ln(ssw / (n - k)) - slnv)
                   / (1 + (sinv - 1.0 / (n - k)) / (3 * (k - 1))) stat
               FROM t)
         SELECT n, k, round(sp2, 6) + 0.0 AS pooled_var,
           round(stat, 6) + 0.0 AS statistic, k - 1 AS df,
           round(exp(-stat / 2) * (1 + stat / 2), 6) + 0.0 AS p_value
         FROM b"""),

    // ---- standardized effect sizes en vs de doc lengths (Drift) -----------
    // the d / g / glass panel from one moment pass per slice
    QuerySpec("q305_effect_sizes", ((s, dir) => {
      val docs = read(s, dir, "documents")
      StatTests.effectSizes(docs.filter(col("lang") === "en"),
          docs.filter(col("lang") === "de"), "n_chars")
        .select(col("n_a"), col("n_b"),
          (round(col("mean_a"), 6) + lit(0.0)).as("mean_a"),
          (round(col("mean_b"), 6) + lit(0.0)).as("mean_b"),
          (round(col("diff"), 6) + lit(0.0)).as("diff"),
          (round(col("cohens_d"), 6) + lit(0.0)).as("cohens_d"),
          (round(col("hedges_g"), 6) + lit(0.0)).as("hedges_g"),
          (round(col("glass_delta"), 6) + lit(0.0)).as("glass_delta"),
          (round(col("var_ratio"), 6) + lit(0.0)).as("var_ratio"))
    }),
      // one moment CTE per slice; the same pooled-sd algebra as the Spark
      // driver literals
      """WITH a AS (SELECT count(*)::BIGINT n, sum(n_chars::DOUBLE) s,
                  sum(pow(n_chars::DOUBLE, 2)) q
                FROM documents WHERE lang = 'en' AND n_chars IS NOT NULL),
         b AS (SELECT count(*)::BIGINT n, sum(n_chars::DOUBLE) s,
                  sum(pow(n_chars::DOUBLE, 2)) q
                FROM documents WHERE lang = 'de' AND n_chars IS NOT NULL),
         m AS (SELECT a.n na, b.n nb, a.s / a.n ma, b.s / b.n mb,
                 (a.q - a.s * a.s / a.n) / (a.n - 1) va,
                 (b.q - b.s * b.s / b.n) / (b.n - 1) vb
               FROM a, b),
         e AS (SELECT na, nb, ma, mb, ma - mb diff, va, vb,
                 ((na - 1) * va + (nb - 1) * vb) / (na + nb - 2) sp2
               FROM m)
         SELECT na AS n_a, nb AS n_b, round(ma, 6) + 0.0 AS mean_a,
           round(mb, 6) + 0.0 AS mean_b, round(diff, 6) + 0.0 AS diff,
           CASE WHEN sp2 > 0
             THEN round(diff / sqrt(sp2), 6) + 0.0 END AS cohens_d,
           CASE WHEN sp2 > 0
             THEN round(diff / sqrt(sp2)
               * (1 - 3.0 / (4 * (na + nb) - 9)), 6) + 0.0 END AS hedges_g,
           CASE WHEN va > 0
             THEN round(diff / sqrt(va), 6) + 0.0 END AS glass_delta,
           CASE WHEN vb > 0
             THEN round(va / vb, 6) + 0.0 END AS var_ratio
         FROM e"""),

    // ---- Mood's median test on doc lengths across langs (Drift) -----------
    // rank-exact lower grand median + a 2xk contingency chi2; df = 4 even
    QuerySpec("q307_mood_median", ((s, dir) => {
      StatTests.moodMedianTest(read(s, dir, "documents"), "lang", "n_chars")
        .select(col("n"), col("k"),
          (round(col("grand_median"), 6) + lit(0.0)).as("grand_median"),
          (round(col("chi2"), 6) + lit(0.0)).as("chi2"),
          col("df"),
          (round(col("p_value"), 6) + lit(0.0)).as("p_value"))
    }),
      // rank-exact lower median from the distinct-count prefix sum; the
      // same 2xk Pearson cells; df = 4 closed-form survival
      """WITH b AS (SELECT lang g, n_chars::DOUBLE v FROM documents
                WHERE lang IS NOT NULL AND n_chars IS NOT NULL),
         nn AS (SELECT count(*)::BIGINT n FROM b),
         dc AS (SELECT v, count(*)::BIGINT c FROM b GROUP BY 1),
         cm AS (SELECT v, sum(c) OVER (ORDER BY v) cum FROM dc),
         cut AS (SELECT min(v) m FROM cm, nn WHERE cum >= (n + 1) // 2),
         cells AS (SELECT g,
                 sum(CASE WHEN v > m THEN 1 ELSE 0 END)::DOUBLE a,
                 sum(CASE WHEN v <= m THEN 1 ELSE 0 END)::DOUBLE l
               FROM b, cut GROUP BY 1),
         t AS (SELECT sum(a) ta, sum(l) tl, count(*)::BIGINT k FROM cells),
         x AS (SELECT sum(pow(a - (a + l) * ta / n, 2)
                   / ((a + l) * ta / n)
                 + pow(l - (a + l) * tl / n, 2)
                   / ((a + l) * tl / n)) chi2
               FROM cells, t, nn)
         SELECT n, k, round(m, 6) + 0.0 AS grand_median,
           round(chi2, 6) + 0.0 AS chi2, k - 1 AS df,
           round(exp(-chi2 / 2) * (1 + chi2 / 2), 6) + 0.0 AS p_value
         FROM x, t, cut, nn"""),

    // ---- Cochran's Q: per-user high-value success across types (Assoc) ----
    // matched binary design: every user rated by all five event types,
    // success = any value > 50 event in the cell
    QuerySpec("q308_cochran_q", ((s, dir) => {
      val ev = EventsSource.read(s, s"$dir/events.parquet")
        .filter(col("value").isNotNull)
        .select(col("user_id"), col("event_type"),
          (col("value") > 50.0).cast("int").as("succ"))
      graft.profile.Association.cochranQ(ev, "user_id", "event_type", "succ")
        .select(col("n_items"), col("k"),
          (round(col("q"), 6) + lit(0.0)).as("q"),
          col("df"),
          (round(col("p_value"), 6) + lit(0.0)).as("p_value"))
    }),
      // complete-block filter on the (user, type) cell table; the Q
      // identity over row/column totals; df = 4 closed-form survival
      """WITH cells AS (SELECT user_id i, event_type j,
                  max(CASE WHEN value > 50 THEN 1 ELSE 0 END) x
                FROM events
                WHERE user_id IS NOT NULL AND event_type IS NOT NULL
                  AND value IS NOT NULL
                GROUP BY 1, 2),
         kk AS (SELECT count(DISTINCT j)::BIGINT k FROM cells),
         rowt AS (SELECT i, count(*)::BIGINT cnt, sum(x)::DOUBLE ri
                FROM cells GROUP BY 1),
         comp AS (SELECT i, ri FROM rowt, kk WHERE cnt = k),
         ra AS (SELECT count(*)::BIGINT n_items, sum(ri) st,
                 sum(ri * ri) sr2 FROM comp),
         colt AS (SELECT c.j, sum(c.x)::DOUBLE tj FROM cells c
                JOIN comp ON comp.i = c.i GROUP BY 1),
         ca AS (SELECT sum(tj * tj) stj2 FROM colt),
         qq AS (SELECT n_items, k,
                 (k - 1) * (k * stj2 - st * st) / (k * st - sr2) q
               FROM ra, ca, kk)
         SELECT n_items, k, round(q, 6) + 0.0 AS q, k - 1 AS df,
           round(exp(-q / 2) * (1 + q / 2), 6) + 0.0 AS p_value
         FROM qq"""),

    // ---- Wald-Wolfowitz runs test per event type (Drift) ------------------
    // keyed windows only; above/below the key mean over (ts, event_id)
    QuerySpec("q309_runs_test", ((s, dir) => {
      val ev = EventsSource.read(s, s"$dir/events.parquet")
        .filter(col("ts").isNotNull && col("event_id").isNotNull)
      StatTests.runsTestByKey(ev, "event_type", Seq("ts", "event_id"), "value")
        .select(col("key"), col("n1"), col("n2"), col("runs"),
          (round(col("z"), 6) + lit(0.0)).as("z"))
        .gateOrdered(col("key"))
    }),
      // keyed lag window over (ts, event_id); the same mu_R / sigma_R
      // normal approximation
      """WITH b AS (SELECT event_type kk, ts, event_id, value v FROM events
                WHERE event_type IS NOT NULL AND value IS NOT NULL
                  AND ts IS NOT NULL AND event_id IS NOT NULL),
         m AS (SELECT kk, sum(v) / count(*) mu FROM b GROUP BY 1),
         s AS (SELECT b.kk, ts, event_id,
                 CASE WHEN v > mu THEN 1 ELSE 0 END s
               FROM b JOIN m ON m.kk = b.kk WHERE v <> mu),
         lg AS (SELECT kk, s,
                 lag(s) OVER (PARTITION BY kk ORDER BY ts, event_id) p
               FROM s),
         r AS (SELECT kk, sum(s)::BIGINT n1, sum(1 - s)::BIGINT n2,
                 sum(CASE WHEN p IS NULL OR p <> s THEN 1 ELSE 0
                   END)::BIGINT runs
               FROM lg GROUP BY 1)
         SELECT kk AS "key", n1, n2, runs,
           CASE WHEN n1 > 0 AND n2 > 0 AND n1 + n2 > 1
               AND 2.0 * n1 * n2 * (2.0 * n1 * n2 - (n1 + n2)) > 0
             THEN round((runs - (2.0 * n1 * n2 / (n1 + n2) + 1))
               / sqrt(2.0 * n1 * n2 * (2.0 * n1 * n2 - (n1 + n2))
                 / (pow((n1 + n2)::DOUBLE, 2) * (n1 + n2 - 1))), 6) + 0.0
             END AS z
         FROM r ORDER BY kk"""),

    // ---- Durbin-Watson per event type: value vs hour trend (Drift) --------
    // x centered at the 2024-01-01 epoch so the OLS denominator never
    // cancels; keyed windows over (ts, event_id)
    QuerySpec("q310_durbin_watson", ((s, dir) => {
      val ev = EventsSource.read(s, s"$dir/events.parquet")
        .filter(col("ts").isNotNull && col("value").isNotNull &&
          col("event_id").isNotNull)
        .withColumn("xh",
          (floor(unix_timestamp(col("ts")) / 3600) - lit(473702L)).cast("double"))
        .withColumn("yc", col("value") - 35.0)
      StatTests.durbinWatson(ev, "event_type", Seq("ts", "event_id"), "xh", "yc")
        .select(col("key"), col("n"),
          (round(col("slope"), 6) + lit(0.0)).as("slope"),
          (round(col("intercept"), 6) + lit(0.0)).as("intercept"),
          (round(col("dw"), 6) + lit(0.0)).as("dw"))
        .gateOrdered(col("key"))
    }),
      // per-key closed-form OLS from raw moments (x centered at the same
      // epoch literal), residual lag window, the same DW ratio
      """WITH b AS (SELECT event_type kk, ts, event_id,
                  floor(epoch(ts) / 3600) - 473702 x, value - 35.0 y
                FROM events
                WHERE ts IS NOT NULL AND value IS NOT NULL
                  AND event_id IS NOT NULL AND event_type IS NOT NULL),
         m AS (SELECT kk, count(*)::BIGINT n, sum(x) sx, sum(y) sy,
                 sum(x * x) sxx, sum(x * y) sxy
               FROM b GROUP BY 1),
         f AS (SELECT kk, n, sx, sy,
                 CASE WHEN n * sxx - sx * sx > 0
                   THEN (n * sxy - sx * sy) / (n * sxx - sx * sx) END b0
               FROM m),
         f2 AS (SELECT kk, n, b0, (sy - b0 * sx) / n a0 FROM f),
         e AS (SELECT b.kk, f2.n, b0, a0, y - a0 - b0 * x e,
                 lag(y - a0 - b0 * x)
                   OVER (PARTITION BY b.kk ORDER BY ts, event_id) ep
               FROM b JOIN f2 ON f2.kk = b.kk),
         r AS (SELECT kk, max(n) n, max(b0) b0, max(a0) a0,
                 sum(e * e) see, sum((e - ep) * (e - ep)) sde
               FROM e GROUP BY 1)
         SELECT kk AS "key", n, round(b0, 6) + 0.0 AS slope,
           round(a0, 6) + 0.0 AS intercept,
           CASE WHEN see > 0 THEN round(sde / see, 6) + 0.0 END AS dw
         FROM r ORDER BY kk"""),

    // ---- Breusch-Pagan heteroscedasticity: value vs hour (Drift) ----------
    // two moment passes; chi2(1) survival via the shared A&S polynomial
    QuerySpec("q311_breusch_pagan", ((s, dir) => {
      val ev = EventsSource.read(s, s"$dir/events.parquet")
        .filter(col("ts").isNotNull && col("value").isNotNull)
        .withColumn("xh",
          (floor(unix_timestamp(col("ts")) / 3600) - lit(473702L)).cast("double"))
        .withColumn("yc", col("value") - 35.0)
      StatTests.breuschPagan(ev, "xh", "yc")
        .select(col("n"),
          (round(col("slope"), 6) + lit(0.0)).as("slope"),
          (round(col("intercept"), 6) + lit(0.0)).as("intercept"),
          (round(col("lm"), 6) + lit(0.0)).as("lm"),
          col("df"),
          (round(col("p_value"), 6) + lit(0.0)).as("p_value"))
    }),
      // the two-pass LM construction; p via the identical A&S erfc
      // polynomial (t in 1/(1 + 0.3275911*sqrt(lm/2)))
      """WITH b AS (SELECT floor(epoch(ts) / 3600) - 473702 x,
                  value - 35.0 y
                FROM events WHERE ts IS NOT NULL AND value IS NOT NULL),
         m AS (SELECT count(*)::BIGINT n, sum(x) sx, sum(y) sy,
                 sum(x * x) sxx, sum(x * y) sxy FROM b),
         f AS (SELECT n, sx, sy, n * sxx - sx * sx den,
                 (n * sxy - sx * sy) / (n * sxx - sx * sx) b0 FROM m),
         f2 AS (SELECT n, sx, den, b0, (sy - b0 * sx) / n a0 FROM f),
         m2 AS (SELECT n, sx, den, b0, a0,
                 sum(pow(y - a0 - b0 * x, 2)) su,
                 sum(x * pow(y - a0 - b0 * x, 2)) sxu,
                 sum(pow(pow(y - a0 - b0 * x, 2), 2)) suu
               FROM b, f2 GROUP BY 1, 2, 3, 4, 5),
         lmx AS (SELECT n, b0, a0,
                 n * pow(n * sxu - sx * su, 2) / (den * (n * suu - su * su)) lm
               FROM m2),
         pp AS (SELECT n, b0, a0, lm,
                 1 / (1 + 0.3275911 * sqrt(lm / 2)) t FROM lmx)
         SELECT n, round(b0, 6) + 0.0 AS slope, round(a0, 6) + 0.0 AS intercept,
           round(lm, 6) + 0.0 AS lm, 1 AS df,
           round(t * (0.254829592 + t * (-0.284496736 + t * (1.421413741
             + t * (-1.453152027 + t * 1.061405429)))) * exp(-lm / 2), 6)
             + 0.0 AS p_value
         FROM pp"""),

    // ---- EWMA one-step backtest on daily volume (Drift) -------------------
    // the scaled-prefix closed form of exponential smoothing on the
    // q301 day spine; scores vs naive-1
    QuerySpec("q322_ewma_backtest", ((s, dir) => {
      val ev = EventsSource.read(s, s"$dir/events.parquet")
        .filter(col("ts").isNotNull)
      val daily = ev.groupBy(floor(unix_timestamp(col("ts")) / 86400).as("t"))
        .agg(count(lit(1)).cast("double").as("y"))
      val spine = ev
        .agg(floor(unix_timestamp(min(col("ts"))) / 86400).as("lo"),
          floor(unix_timestamp(max(col("ts"))) / 86400).as("hi"))
        .select(explode(sequence(col("lo"), col("hi"))).as("t"))
      val series = spine.join(daily, Seq("t"), "left").na.fill(0.0, Seq("y"))
      StatTests.ewmaBacktest(series, "t", "y", alpha = 0.3)
        .select(col("n"), col("n_scored"),
          (round(col("mae_ewma"), 6) + lit(0.0)).as("mae_ewma"),
          (round(col("mae_naive1"), 6) + lit(0.0)).as("mae_naive1"),
          (round(col("rel_mae"), 6) + lit(0.0)).as("rel_mae"))
    }),
      // identical scaled-prefix EWMA: cum of y*(1/(1-a))^k, first_value
      // y0, lag for the one-step forecast
      """WITH e AS (SELECT floor(epoch(ts) / 86400)::BIGINT d FROM events
                WHERE ts IS NOT NULL),
         daily AS (SELECT d, count(*)::DOUBLE y FROM e GROUP BY 1),
         spine AS (SELECT unnest(range((SELECT min(d) FROM e),
                  (SELECT max(d) FROM e) + 1)) t),
         series AS (SELECT spine.t, coalesce(daily.y, 0) y
                FROM spine LEFT JOIN daily ON daily.d = spine.t),
         kk AS (SELECT t - (SELECT min(t) FROM series) k, y FROM series),
         c AS (SELECT k, y,
                 sum(CASE WHEN k > 0 THEN y * pow(1 / 0.7, k) ELSE 0 END)
                   OVER (ORDER BY k) cum,
                 first_value(y) OVER (ORDER BY k) y0
               FROM kk),
         s AS (SELECT k, y, pow(0.7, k) * (y0 + 0.3 * cum) sv FROM c),
         f AS (SELECT k, y, lag(sv) OVER (ORDER BY k) fc,
                 lag(y) OVER (ORDER BY k) yp FROM s),
         m AS (SELECT count(*)::BIGINT n_scored, avg(abs(y - fc)) mae_e,
                 avg(abs(y - yp)) mae_n
               FROM f WHERE k > 0),
         nn AS (SELECT count(*)::BIGINT n FROM series)
         SELECT n, n_scored, round(mae_e, 6) + 0.0 AS mae_ewma,
           round(mae_n, 6) + 0.0 AS mae_naive1,
           CASE WHEN mae_n > 0
             THEN round(mae_e / mae_n, 6) + 0.0 END AS rel_mae
         FROM m, nn"""),

    // ---- chi-square GoF: weekday uniformity of events (Drift) -------------
    // pure-arithmetic day-of-epoch categories (engine-neutral); df = 6
    QuerySpec("q323_chisq_gof", ((s, dir) => {
      val ev = EventsSource.read(s, s"$dir/events.parquet")
        .filter(col("ts").isNotNull)
        .select((floor(unix_timestamp(col("ts")) / 86400) % 7)
          .cast("string").as("dow"))
      StatTests.chiSquareGof(ev, "dow",
          (0 to 6).map(i => (i.toString, 1.0 / 7.0)))
        .select(col("n"), col("k"),
          (round(col("chi2"), 6) + lit(0.0)).as("chi2"),
          col("df"),
          (round(col("p_value"), 6) + lit(0.0)).as("p_value"))
    }),
      // arithmetic day-of-epoch categories; uniform expectation; df = 6
      // closed survival exp(-x/2)(1 + x/2 + (x/2)^2/2)
      """WITH b AS (SELECT (floor(epoch(ts) / 86400)::BIGINT % 7)::VARCHAR v
                FROM events WHERE ts IS NOT NULL),
         o AS (SELECT v, count(*)::BIGINT o FROM b GROUP BY 1),
         e AS (SELECT unnest(range(0, 7))::VARCHAR v, 1.0 / 7 p),
         j AS (SELECT e.v, e.p, coalesce(o.o, 0) o
               FROM e LEFT JOIN o ON o.v = e.v),
         t AS (SELECT sum(o)::BIGINT n FROM j),
         x AS (SELECT sum(pow(o - n * p, 2) / (n * p)) chi2 FROM j, t)
         SELECT n, 7 AS k, round(chi2, 6) + 0.0 AS chi2, 6 AS df,
           round(exp(-chi2 / 2) * (1 + chi2 / 2 + pow(chi2 / 2, 2) / 2), 6)
             + 0.0 AS p_value
         FROM x, t"""),

    // ---- G-test of independence: lang x source (Association) --------------
    // the likelihood-ratio companion of q228's chi2; df = 76 (even)
    QuerySpec("q324_g_test", ((s, dir) => {
      graft.profile.Association.gTest(read(s, dir, "documents"),
          "lang", "source")
        .select(col("n"), col("k_a"), col("k_b"),
          (round(col("g"), 6) + lit(0.0)).as("g"),
          col("df"),
          (round(col("p_value"), 6) + lit(0.0)).as("p_value"))
    }),
      // observed-cell likelihood-ratio sum; df = 76 survival as the
      // 38-term lgamma series (same even-df closed form, different but
      // equally exact arithmetic)
      """WITH cells AS (SELECT lang va, source vb, count(*)::DOUBLE o
                FROM documents
                WHERE lang IS NOT NULL AND source IS NOT NULL
                GROUP BY 1, 2),
         ma AS (SELECT va, sum(o) ca FROM cells GROUP BY 1),
         mb AS (SELECT vb, sum(o) cb FROM cells GROUP BY 1),
         t AS (SELECT sum(o) n, count(DISTINCT va)::BIGINT ka,
                 count(DISTINCT vb)::BIGINT kb FROM cells),
         gx AS (SELECT 2 * sum(o * ln(o * n / (ca * cb))) g
               FROM cells JOIN ma USING (va) JOIN mb USING (vb), t),
         pp AS (SELECT g, (SELECT sum(exp(-g / 2 + j * ln(g / 2)
                   - lgamma(j + 1.0)))
                 FROM unnest(range(0, 38)) u(j)) p
               FROM gx)
         SELECT n::BIGINT AS n, ka AS k_a, kb AS k_b,
           round(g, 6) + 0.0 AS g, 76 AS df,
           round(least(p, 1.0), 6) + 0.0 AS p_value
         FROM pp, t"""),

    // ---- Cronbach's alpha over per-user event-type counts (Association) ---
    // are the five activity counters one "activity" construct?
    QuerySpec("q325_cronbach", ((s, dir) => {
      val types = Seq("click", "error", "purchase", "signup", "view")
      val aggs = types.map(t => sum(when(col("event_type") === t, 1)
        .otherwise(0)).cast("double").as(s"n_$t"))
      val wide = EventsSource.read(s, s"$dir/events.parquet")
        .filter(col("user_id").isNotNull)
        .groupBy(col("user_id"))
        .agg(aggs.head, aggs.tail: _*)
      graft.profile.Association.cronbachAlpha(wide, types.map(t => s"n_$t"))
        .select(col("n"), col("k"),
          (round(col("sum_item_var"), 6) + lit(0.0)).as("sum_item_var"),
          (round(col("total_var"), 6) + lit(0.0)).as("total_var"),
          (round(col("alpha"), 6) + lit(0.0)).as("alpha"))
    }),
      // the same per-user conditional counts and moment-sum variances
      """WITH u AS (SELECT user_id,
                  sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0
                    END)::DOUBLE x0,
                  sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0
                    END)::DOUBLE x1,
                  sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0
                    END)::DOUBLE x2,
                  sum(CASE WHEN event_type = 'signup' THEN 1 ELSE 0
                    END)::DOUBLE x3,
                  sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0
                    END)::DOUBLE x4
                FROM events WHERE user_id IS NOT NULL GROUP BY 1),
         m AS (SELECT count(*)::BIGINT n,
                 sum(x0) s0, sum(x0 * x0) q0, sum(x1) s1, sum(x1 * x1) q1,
                 sum(x2) s2, sum(x2 * x2) q2, sum(x3) s3, sum(x3 * x3) q3,
                 sum(x4) s4, sum(x4 * x4) q4,
                 sum(x0 + x1 + x2 + x3 + x4) st,
                 sum(pow(x0 + x1 + x2 + x3 + x4, 2)) qt
               FROM u),
         v AS (SELECT n,
                 ((q0 - s0 * s0 / n) + (q1 - s1 * s1 / n) + (q2 - s2 * s2 / n)
                   + (q3 - s3 * s3 / n) + (q4 - s4 * s4 / n)) / (n - 1) sv,
                 (qt - st * st / n) / (n - 1) vt
               FROM m)
         SELECT n, 5 AS k, round(sv, 6) + 0.0 AS sum_item_var,
           round(vt, 6) + 0.0 AS total_var,
           CASE WHEN vt > 0
             THEN round(5.0 / 4 * (1 - sv / vt), 6) + 0.0 END AS alpha
         FROM v"""),

    // ---- Yuen trimmed-means test: en vs de doc lengths (Drift) ------------
    // the robust twin of q247's Welch t: 10%-trimmed means, winsorized
    // variances, Welch-Satterthwaite df; rank-exact overlap algebra on
    // the shared two-sided cumsum (integer n_chars keep the sums exact)
    QuerySpec("q361_yuen_trimmed", ((s, dir) => {
      val docs = read(s, dir, "documents")
      StatTests.yuenTrimmedTest(
          docs.filter(col("lang") === "en"),
          docs.filter(col("lang") === "de"), "n_chars", trimFrac = 0.1)
        .select(col("n_a"), col("n_b"), col("h_a"), col("h_b"),
          (round(col("trimmed_mean_a"), 6) + lit(0.0)).as("trimmed_mean_a"),
          (round(col("trimmed_mean_b"), 6) + lit(0.0)).as("trimmed_mean_b"),
          (round(col("t_stat"), 6) + lit(0.0)).as("t_stat"),
          (round(col("df"), 4) + lit(0.0)).as("df"))
    }),
      // the q327 rank-overlap algebra per side; Yuen/Welch-Satterthwaite
      // driver arithmetic mirrored expression-for-expression
      """WITH sa AS (SELECT n_chars::DOUBLE v FROM documents
                WHERE lang = 'en' AND n_chars IS NOT NULL),
         sb AS (SELECT n_chars::DOUBLE v FROM documents
                WHERE lang = 'de' AND n_chars IS NOT NULL),
         da AS (SELECT v, count(*)::BIGINT c FROM sa GROUP BY 1),
         db_ AS (SELECT v, count(*)::BIGINT c FROM sb GROUP BY 1),
         ca_ AS (SELECT v, c, sum(c) OVER (ORDER BY v) hi FROM da),
         cb_ AS (SELECT v, c, sum(c) OVER (ORDER BY v) hi FROM db_),
         ta AS (SELECT count(*)::BIGINT n,
                 floor(count(*) * 0.1::DOUBLE)::BIGINT tr FROM sa),
         tb AS (SELECT count(*)::BIGINT n,
                 floor(count(*) * 0.1::DOUBLE)::BIGINT tr FROM sb),
         ja AS (SELECT v, c, hi, hi - c + 1 lo, n, tr FROM ca_, ta),
         jb AS (SELECT v, c, hi, hi - c + 1 lo, n, tr FROM cb_, tb),
         xa AS (SELECT max(n) n, max(tr) tr,
                 sum(v * greatest(least(hi, n - tr)
                   - greatest(lo, tr + 1) + 1, 0)) ts,
                 sum(v * (greatest(least(hi, n - tr)
                     - greatest(lo, tr + 1) + 1, 0)
                   + CASE WHEN lo <= tr + 1 AND tr + 1 <= hi
                       THEN tr ELSE 0 END
                   + CASE WHEN lo <= n - tr AND n - tr <= hi
                       THEN tr ELSE 0 END)) ws,
                 sum(v * v * (greatest(least(hi, n - tr)
                     - greatest(lo, tr + 1) + 1, 0)
                   + CASE WHEN lo <= tr + 1 AND tr + 1 <= hi
                       THEN tr ELSE 0 END
                   + CASE WHEN lo <= n - tr AND n - tr <= hi
                       THEN tr ELSE 0 END)) w2
               FROM ja),
         xb AS (SELECT max(n) n, max(tr) tr,
                 sum(v * greatest(least(hi, n - tr)
                   - greatest(lo, tr + 1) + 1, 0)) ts,
                 sum(v * (greatest(least(hi, n - tr)
                     - greatest(lo, tr + 1) + 1, 0)
                   + CASE WHEN lo <= tr + 1 AND tr + 1 <= hi
                       THEN tr ELSE 0 END
                   + CASE WHEN lo <= n - tr AND n - tr <= hi
                       THEN tr ELSE 0 END)) ws,
                 sum(v * v * (greatest(least(hi, n - tr)
                     - greatest(lo, tr + 1) + 1, 0)
                   + CASE WHEN lo <= tr + 1 AND tr + 1 <= hi
                       THEN tr ELSE 0 END
                   + CASE WHEN lo <= n - tr AND n - tr <= hi
                       THEN tr ELSE 0 END)) w2
               FROM jb),
         hh AS (SELECT xa.n na, xb.n nb,
                 (xa.n - 2 * xa.tr)::BIGINT ha,
                 (xb.n - 2 * xb.tr)::BIGINT hb,
                 xa.ts tsa, xa.ws wsa, xa.w2 w2a,
                 xb.ts tsb, xb.ws wsb, xb.w2 w2b
               FROM xa, xb),
         dd AS (SELECT *, tsa / ha tma, tsb / hb tmb,
                 (w2a - wsa * wsa / na) / (ha::DOUBLE * (ha - 1)) dA,
                 (w2b - wsb * wsb / nb) / (hb::DOUBLE * (hb - 1)) dB
               FROM hh)
         SELECT na AS n_a, nb AS n_b, ha AS h_a, hb AS h_b,
           round(tma, 6) + 0.0 AS trimmed_mean_a,
           round(tmb, 6) + 0.0 AS trimmed_mean_b,
           round((tma - tmb) / sqrt(dA + dB), 6) + 0.0 AS t_stat,
           round((dA + dB) * (dA + dB)
             / (dA * dA / (ha - 1) + dB * dB / (hb - 1)), 4) + 0.0 AS df
         FROM dd"""),

    // ---- robust location panel on doc lengths (Drift) ---------------------
    // rank-exact trimmed/winsorized means from the distinct-value cumsum
    QuerySpec("q327_robust_location", ((s, dir) => {
      StatTests.robustLocation(read(s, dir, "documents"), "n_chars",
          trimFrac = 0.1)
        .select(col("n"), col("n_trim_each"),
          (round(col("mean"), 6) + lit(0.0)).as("mean"),
          (round(col("trimmed_mean"), 6) + lit(0.0)).as("trimmed_mean"),
          (round(col("winsorized_mean"), 6) + lit(0.0)).as("winsorized_mean"),
          (round(col("median"), 6) + lit(0.0)).as("median"))
    }),
      // the same rank-overlap algebra over the distinct-value cumsum
      """WITH b AS (SELECT n_chars::DOUBLE v FROM documents
                WHERE n_chars IS NOT NULL),
         dc AS (SELECT v, count(*)::BIGINT c FROM b GROUP BY 1),
         cm AS (SELECT v, c, sum(c) OVER (ORDER BY v) hi FROM dc),
         t AS (SELECT sum(c)::BIGINT n, sum(v * c) s FROM dc),
         k AS (SELECT floor(n * 0.1)::BIGINT tr FROM t),
         j AS (SELECT v, c, hi, hi - c + 1 lo, n, s, tr FROM cm, t, k),
         x AS (SELECT max(n) n, max(s) s, max(tr) tr,
                 sum(v * greatest(least(hi, n - tr)
                   - greatest(lo, tr + 1) + 1, 0)) tsum,
                 sum(v * (greatest(least(hi, n - tr)
                     - greatest(lo, tr + 1) + 1, 0)
                   + CASE WHEN lo <= tr + 1 AND tr + 1 <= hi
                       THEN tr ELSE 0 END
                   + CASE WHEN lo <= n - tr AND n - tr <= hi
                       THEN tr ELSE 0 END)) wsum,
                 min(CASE WHEN hi >= (n + 1) // 2 THEN v END) med
               FROM j)
         SELECT n, tr AS n_trim_each, round(s / n, 6) + 0.0 AS mean,
           round(tsum / (n - 2 * tr), 6) + 0.0 AS trimmed_mean,
           round(wsum / n, 6) + 0.0 AS winsorized_mean,
           round(med, 6) + 0.0 AS median
         FROM x"""),

    // ---- Holm adjustment over the runs-test battery (Drift) ---------------
    // per-type runs-test z -> two-sided A&S p -> Holm step-down; the
    // battery is 5 rows, so its sort windows are bounded by construction
    QuerySpec("q329_p_adjust", ((s, dir) => {
      val ev = EventsSource.read(s, s"$dir/events.parquet")
        .filter(col("ts").isNotNull && col("event_id").isNotNull)
      val battery = StatTests.runsTestByKey(ev, "event_type",
          Seq("ts", "event_id"), "value")
        .withColumn("_az", abs(col("z")) / math.sqrt(2.0))
        .withColumn("_t", lit(1.0) / (lit(1.0) + lit(0.3275911) * col("_az")))
        .withColumn("p", col("_t") * (lit(0.254829592) + col("_t") *
          (lit(-0.284496736) + col("_t") * (lit(1.421413741) + col("_t") *
            (lit(-1.453152027) + col("_t") * 1.061405429)))) *
          exp(-col("_az") * col("_az")))
        .select(col("key"), col("p"))
      StatTests.pAdjust(battery, "p", method = "holm")
        .select(col("key"),
          (round(col("p"), 6) + lit(0.0)).as("p"),
          (round(col("p_adjusted"), 6) + lit(0.0)).as("p_adjusted"))
        .gateOrdered(col("key"))
    }),
      // the q309 battery, the shared A&S two-sided p, and the Holm
      // step-down (rank window + running max, both over 5 rows)
      """WITH b AS (SELECT event_type kk, ts, event_id, value v FROM events
                WHERE event_type IS NOT NULL AND value IS NOT NULL
                  AND ts IS NOT NULL AND event_id IS NOT NULL),
         m AS (SELECT kk, sum(v) / count(*) mu FROM b GROUP BY 1),
         s AS (SELECT b.kk, ts, event_id,
                 CASE WHEN v > mu THEN 1 ELSE 0 END s
               FROM b JOIN m ON m.kk = b.kk WHERE v <> mu),
         lg AS (SELECT kk, s,
                 lag(s) OVER (PARTITION BY kk ORDER BY ts, event_id) p
               FROM s),
         r AS (SELECT kk, sum(s)::BIGINT n1, sum(1 - s)::BIGINT n2,
                 sum(CASE WHEN p IS NULL OR p <> s THEN 1 ELSE 0
                   END)::BIGINT runs
               FROM lg GROUP BY 1),
         z AS (SELECT kk, (runs - (2.0 * n1 * n2 / (n1 + n2) + 1))
                 / sqrt(2.0 * n1 * n2 * (2.0 * n1 * n2 - (n1 + n2))
                   / (pow((n1 + n2)::DOUBLE, 2) * (n1 + n2 - 1))) zz
               FROM r),
         pv AS (SELECT kk, abs(zz) / sqrt(2.0) az,
                 1.0 / (1.0 + 0.3275911 * abs(zz) / sqrt(2.0)) t FROM z),
         pr AS (SELECT kk, t * (0.254829592 + t * (-0.284496736
                 + t * (1.421413741 + t * (-1.453152027
                 + t * 1.061405429)))) * exp(-az * az) p FROM pv),
         hm AS (SELECT kk, p,
                 p * (count(*) OVER () - row_number()
                   OVER (ORDER BY p ASC) + 1) raw
               FROM pr),
         ad AS (SELECT kk, p, least(max(raw) OVER (ORDER BY p ASC
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
                 1.0) pa
               FROM hm)
         SELECT kk AS "key", round(p, 6) + 0.0 AS p,
           round(pa, 6) + 0.0 AS p_adjusted
         FROM ad ORDER BY kk"""),

    // ---- count-model fit of per-user-day event loads (Drift) --------------
    // zero-filled user x day grid; Poisson vs NB-MoM zero-mass diagnosis
    QuerySpec("q333_count_model", ((s, dir) => {
      val ev = EventsSource.read(s, s"$dir/events.parquet")
        .filter(col("ts").isNotNull && col("user_id").isNotNull)
      val counts = ev
        .groupBy(col("user_id"), floor(unix_timestamp(col("ts")) / 86400).as("d"))
        .agg(count(lit(1)).cast("double").as("c"))
      val users = ev.select(col("user_id")).distinct()
      val spine = ev
        .agg(floor(unix_timestamp(min(col("ts")))  / 86400).as("lo"),
          floor(unix_timestamp(max(col("ts"))) / 86400).as("hi"))
        .select(explode(sequence(col("lo"), col("hi"))).as("d"))
      val grid = users.crossJoin(broadcast(spine))
        .join(counts, Seq("user_id", "d"), "left").na.fill(0.0, Seq("c"))
      StatTests.countModelFit(grid, "c")
        .select(col("n"),
          (round(col("mean"), 6) + lit(0.0)).as("mean"),
          (round(col("variance"), 6) + lit(0.0)).as("variance"),
          (round(col("zero_frac_obs"), 6) + lit(0.0)).as("zero_frac_obs"),
          (round(col("zero_frac_poisson"), 6) + lit(0.0))
            .as("zero_frac_poisson"),
          (round(col("nb_r"), 6) + lit(0.0)).as("nb_r"),
          (round(col("zero_frac_nb"), 6) + lit(0.0)).as("zero_frac_nb"))
    }),
      // the same zero-filled grid; moment algebra and the MoM NB fit
      """WITH e AS (SELECT user_id u, floor(epoch(ts) / 86400)::BIGINT d
                FROM events WHERE ts IS NOT NULL AND user_id IS NOT NULL),
         cts AS (SELECT u, d, count(*)::DOUBLE c FROM e GROUP BY 1, 2),
         us AS (SELECT DISTINCT u FROM e),
         sp AS (SELECT unnest(range((SELECT min(d) FROM e),
                  (SELECT max(d) FROM e) + 1)) d),
         grid AS (SELECT coalesce(cts.c, 0) c
               FROM us CROSS JOIN sp
               LEFT JOIN cts ON cts.u = us.u AND cts.d = sp.d),
         m AS (SELECT count(*)::BIGINT n, sum(c) s, sum(c * c) q,
                 sum(CASE WHEN c = 0 THEN 1 ELSE 0 END)::BIGINT z
               FROM grid),
         st AS (SELECT n, s / n mu, (q - s * s / n) / (n - 1) v,
                 z::DOUBLE / n zo FROM m)
         SELECT n, round(mu, 6) + 0.0 AS mean, round(v, 6) + 0.0 AS variance,
           round(zo, 6) + 0.0 AS zero_frac_obs,
           round(exp(-mu), 6) + 0.0 AS zero_frac_poisson,
           CASE WHEN v > mu AND mu > 0
             THEN round(mu * mu / (v - mu), 6) + 0.0 END AS nb_r,
           CASE WHEN v > mu AND mu > 0
             THEN round(pow((mu * mu / (v - mu))
               / (mu * mu / (v - mu) + mu), mu * mu / (v - mu)), 6) + 0.0
             END AS zero_frac_nb
         FROM st"""),

    // ---- weighted kappa: quantized view-vs-click value ratings (Assoc) ----
    // ordinal 0..4 ratings per user from two event types; quadratic
    // penalties over the k-level index
    QuerySpec("q337_weighted_kappa", ((s, dir) => {
      val ev = EventsSource.read(s, s"$dir/events.parquet")
        .filter(col("value").isNotNull && col("user_id").isNotNull)
      def rating(t: String, out: String) = ev.filter(col("event_type") === t)
        .groupBy(col("user_id"))
        .agg(least(floor(avg(col("value")) / 25), lit(4.0)).as(out))
      val paired = rating("view", "ra").join(rating("click", "rb"), Seq("user_id"))
      graft.profile.Association.weightedKappa(paired, "ra", "rb")
        .select(col("n"), col("k"),
          (round(col("obs_penalty"), 6) + lit(0.0)).as("obs_penalty"),
          (round(col("exp_penalty"), 6) + lit(0.0)).as("exp_penalty"),
          (round(col("kappa_w"), 6) + lit(0.0)).as("kappa_w"))
    }),
      // the same quantized ratings; ordinal index via row_number over the
      // distinct levels; quadratic penalties on observed and expected
      """WITH ra AS (SELECT user_id u, least(floor(avg(value) / 25), 4) r
                FROM events WHERE event_type = 'view' AND value IS NOT NULL
                  AND user_id IS NOT NULL GROUP BY 1),
         rb AS (SELECT user_id u, least(floor(avg(value) / 25), 4) r
                FROM events WHERE event_type = 'click' AND value IS NOT NULL
                  AND user_id IS NOT NULL GROUP BY 1),
         p AS (SELECT ra.r va, rb.r vb FROM ra JOIN rb ON ra.u = rb.u),
         lv AS (SELECT DISTINCT v FROM
                (SELECT va v FROM p UNION ALL SELECT vb FROM p)),
         ix AS (SELECT v, row_number() OVER (ORDER BY v) - 1 i FROM lv),
         kx AS (SELECT count(*)::BIGINT k FROM lv),
         cells AS (SELECT ia.i ia, ib.i ib, count(*)::DOUBLE o FROM p
               JOIN ix ia ON ia.v = p.va JOIN ix ib ON ib.v = p.vb
               GROUP BY 1, 2),
         mm AS (SELECT sum(o) n FROM cells),
         ob AS (SELECT sum(o * pow(abs(ia - ib)::DOUBLE / (k - 1), 2)) od
               FROM cells, kx),
         ma AS (SELECT ia, sum(o) ra FROM cells GROUP BY 1),
         mb AS (SELECT ib, sum(o) cb FROM cells GROUP BY 1),
         ex AS (SELECT sum(ra * cb * pow(abs(ia - ib)::DOUBLE / (k - 1), 2))
                   / (SELECT n FROM mm) ed
               FROM ma, mb, kx)
         SELECT n::BIGINT AS n, k, round(od / n, 6) + 0.0 AS obs_penalty,
           round(ed / n, 6) + 0.0 AS exp_penalty,
           CASE WHEN ed > 0
             THEN round(1 - od / ed, 6) + 0.0 END AS kappa_w
         FROM ob, ex, mm, kx"""),

    // ---- numeric MI: doc chars vs token count (Association) ---------------
    // rank-exact decile bins on both axes; plug-in MI + NMI
    QuerySpec("q342_numeric_mi", ((s, dir) => {
      val docs = read(s, dir, "documents")
        .filter(col("n_chars").isNotNull && col("text").isNotNull)
        .withColumn("tok", TextFunctions.tokenCount(col("text")).cast("double"))
      graft.profile.Association.numericMutualInfo(docs, "n_chars", "tok")
        .select(col("n"), col("bins_a"), col("bins_b"),
          (round(col("mi_nats"), 6) + lit(0.0)).as("mi_nats"),
          (round(col("nmi"), 6) + lit(0.0)).as("nmi"))
    }),
      // the q326 rank-exact cutpoints on BOTH axes; the same plug-in MI
      """WITH b AS (SELECT n_chars::DOUBLE va,
                  len(list_filter(regexp_split_to_array(trim(lower(text)),
                    '\s+'), x -> len(x) > 0))::DOUBLE vb
                FROM documents
                WHERE n_chars IS NOT NULL AND text IS NOT NULL),
         nn0 AS (SELECT count(*)::BIGINT n FROM b),
         dca AS (SELECT va v, count(*)::BIGINT c FROM b GROUP BY 1),
         cma AS (SELECT v, sum(c) OVER (ORDER BY v) hi FROM dca),
         rk AS (SELECT DISTINCT ((j * n + 9) // 10) r
               FROM unnest(range(1, 10)) u(j), nn0),
         cta AS (SELECT DISTINCT min(v) cut FROM cma, rk WHERE hi >= r
               GROUP BY r),
         dcb AS (SELECT vb v, count(*)::BIGINT c FROM b GROUP BY 1),
         cmb AS (SELECT v, sum(c) OVER (ORDER BY v) hi FROM dcb),
         ctb AS (SELECT DISTINCT min(v) cut FROM cmb, rk WHERE hi >= r
               GROUP BY r),
         bbn AS (SELECT (SELECT count(*) FROM cta WHERE b.va > cut) ba,
                 (SELECT count(*) FROM ctb WHERE b.vb > cut) bb2 FROM b),
         cells AS (SELECT ba, bb2, count(*)::DOUBLE o FROM bbn GROUP BY 1, 2),
         ma AS (SELECT ba, sum(o) ra FROM cells GROUP BY 1),
         mb AS (SELECT bb2, sum(o) cb2 FROM cells GROUP BY 1),
         t AS (SELECT sum(o) tn, count(DISTINCT ba)::BIGINT ka,
                 count(DISTINCT bb2)::BIGINT kb FROM cells),
         mi AS (SELECT sum(o / tn * ln(o * tn / (ra * cb2))) m
               FROM cells JOIN ma USING (ba) JOIN mb USING (bb2), t),
         ha AS (SELECT -sum(ra / tn * ln(ra / tn)) h FROM ma, t),
         hb AS (SELECT -sum(cb2 / tn * ln(cb2 / tn)) h FROM mb, t)
         SELECT tn::BIGINT AS n, ka AS bins_a, kb AS bins_b,
           round(m, 6) + 0.0 AS mi_nats,
           CASE WHEN ha.h > 0 AND hb.h > 0
             THEN round(m / sqrt(ha.h * hb.h), 6) + 0.0 END AS nmi
         FROM mi, ha, hb, t"""),

    // ---- seasonal Mann-Kendall on daily volume, period 7 (Drift) ----------
    // within-weekday pairs only; combined S and variance across phases
    QuerySpec("q343_seasonal_mk", ((s, dir) => {
      val ev = EventsSource.read(s, s"$dir/events.parquet")
      StatTests.seasonalMannKendall(ev, "ts", period = 7)
        .select(col("n_days"), col("period"), col("s"),
          (round(col("var_s"), 6) + lit(0.0)).as("var_s"),
          (round(col("z"), 6) + lit(0.0)).as("z"),
          col("trend"))
    }),
      // the same phase-keyed pair join and per-phase tie algebra
      """WITH days AS (SELECT ts::DATE dd, count(*)::BIGINT y FROM events
                WHERE ts IS NOT NULL GROUP BY 1),
         d2 AS (SELECT dd, y,
                 ((dd - DATE '1970-01-01') % 7 + 7) % 7 g FROM days),
         sx AS (SELECT coalesce(sum(CASE WHEN b.y > a.y THEN 1
                   WHEN b.y < a.y THEN -1 ELSE 0 END), 0)::BIGINT s
               FROM d2 a JOIN d2 b ON a.g = b.g AND b.dd > a.dd),
         ps AS (SELECT g, count(*)::BIGINT ng FROM d2 GROUP BY 1),
         tp AS (SELECT g, sum(t * (t - 1) * (t * 2 + 5))::BIGINT tt FROM
                (SELECT g, y, count(*)::BIGINT t FROM d2 GROUP BY 1, 2)
               GROUP BY 1),
         vx AS (SELECT sum((ng * (ng - 1) * (ng * 2 + 5) - tt)::DOUBLE / 18) v,
                 sum(ng)::BIGINT n
               FROM ps JOIN tp USING (g))
         SELECT n AS n_days, 7 AS period, s,
           round(v, 6) + 0.0 AS var_s,
           CASE WHEN v > 0 THEN round(CASE WHEN s > 0 THEN (s - 1) / sqrt(v)
             WHEN s < 0 THEN (s + 1) / sqrt(v) ELSE 0.0 END, 6) + 0.0
             END AS z,
           CASE WHEN v > 0 AND (CASE WHEN s > 0 THEN (s - 1) / sqrt(v)
               WHEN s < 0 THEN (s + 1) / sqrt(v) ELSE 0.0 END)
               > 1.959963984540054 THEN 'increasing'
             WHEN v > 0 AND (CASE WHEN s > 0 THEN (s - 1) / sqrt(v)
               WHEN s < 0 THEN (s + 1) / sqrt(v) ELSE 0.0 END)
               < -1.959963984540054 THEN 'decreasing'
             ELSE 'none' END AS trend
         FROM sx, vx"""),

    // ---- Dunn's post-hoc: WHICH language pairs differ in length (Drift) ---
    // the pairwise follow-up to q249's Kruskal-Wallis, same rank plan;
    // Holm across the pair family
    QuerySpec("q348_dunn_posthoc", ((s, dir) => {
      StatTests.dunnTest(read(s, dir, "documents"), "lang", "n_chars")
        .select(col("group_a"), col("group_b"), col("n_a"), col("n_b"),
          (round(col("mean_rank_a"), 4) + lit(0.0)).as("mean_rank_a"),
          (round(col("mean_rank_b"), 4) + lit(0.0)).as("mean_rank_b"),
          (round(col("z"), 6) + lit(0.0)).as("z"),
          (round(col("p_value"), 6) + lit(0.0)).as("p_value"),
          (round(col("p_holm"), 6) + lit(0.0)).as("p_holm"))
        .gateOrdered(col("group_a"), col("group_b"))
    }),
      // the q249 average-rank spine, pairwise z with the tie-corrected
      // sigma^2, the shared A&S two-sided p, Holm over the pair family
      """WITH gv AS (SELECT lang g, n_chars::DOUBLE v FROM documents
                WHERE lang IS NOT NULL AND n_chars IS NOT NULL),
         pv AS (SELECT v, count(*)::BIGINT cnt FROM gv GROUP BY 1),
         rk AS (SELECT v, sum(cnt) OVER (ORDER BY v) - cnt
                 + (cnt + 1) / 2.0 r
               FROM pv),
         nn AS (SELECT sum(cnt)::BIGINT n,
                 sum(cnt::DOUBLE * cnt * cnt - cnt)::DOUBLE tmass FROM pv),
         gs AS (SELECT g, count(*)::BIGINT ng, sum(r) rg
               FROM gv JOIN rk USING (v) GROUP BY g),
         s2 AS (SELECT (n * (n + 1.0) - tmass / (n - 1)) / 12.0 s2 FROM nn),
         pr AS (SELECT a.g ga, b.g gb, a.ng na, b.ng nb,
                 a.rg / a.ng ra, b.rg / b.ng rb
               FROM gs a JOIN gs b ON a.g < b.g),
         zz AS (SELECT ga, gb, na, nb, ra, rb,
                 CASE WHEN s2 > 0 THEN (ra - rb)
                   / sqrt(s2 * (1.0 / na + 1.0 / nb)) END z
               FROM pr, s2),
         pz AS (SELECT *, abs(z) / sqrt(2.0) az,
                 1.0 / (1.0 + 0.3275911 * abs(z) / sqrt(2.0)) t FROM zz),
         pp AS (SELECT ga, gb, na, nb, ra, rb, z,
                 CASE WHEN z IS NOT NULL THEN least(1.0,
                   t * (0.254829592 + t * (-0.284496736
                     + t * (1.421413741 + t * (-1.453152027
                     + t * 1.061405429)))) * exp(-az * az)) END p
               FROM pz),
         hm AS (SELECT *, p * (count(*) OVER ()
                 - row_number() OVER (ORDER BY p ASC) + 1) raw
               FROM pp),
         ad AS (SELECT *, least(max(raw) OVER (ORDER BY p ASC
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
                 1.0) ph
               FROM hm)
         SELECT ga AS group_a, gb AS group_b, na AS n_a, nb AS n_b,
           round(ra, 4) + 0.0 AS mean_rank_a,
           round(rb, 4) + 0.0 AS mean_rank_b,
           round(z, 6) + 0.0 AS z, round(p, 6) + 0.0 AS p_value,
           round(ph, 6) + 0.0 AS p_holm
         FROM ad ORDER BY group_a, group_b"""),

    // ---- Benjamini-Yekutieli over the q329 battery (Drift) ----------------
    // FDR under arbitrary dependence: the harmonic penalty c(m) = H_m
    // accumulates as sum(1/rank) over the battery itself, so both engines
    // replay it exactly
    QuerySpec("q349_p_adjust_by", ((s, dir) => {
      val ev = EventsSource.read(s, s"$dir/events.parquet")
        .filter(col("ts").isNotNull && col("event_id").isNotNull)
      val battery = StatTests.runsTestByKey(ev, "event_type",
          Seq("ts", "event_id"), "value")
        .withColumn("_az", abs(col("z")) / math.sqrt(2.0))
        .withColumn("_t", lit(1.0) / (lit(1.0) + lit(0.3275911) * col("_az")))
        .withColumn("p", col("_t") * (lit(0.254829592) + col("_t") *
          (lit(-0.284496736) + col("_t") * (lit(1.421413741) + col("_t") *
            (lit(-1.453152027) + col("_t") * 1.061405429)))) *
          exp(-col("_az") * col("_az")))
        .select(col("key"), col("p"))
      StatTests.pAdjust(battery, "p", method = "by")
        .select(col("key"),
          (round(col("p"), 6) + lit(0.0)).as("p"),
          (round(col("p_adjusted"), 6) + lit(0.0)).as("p_adjusted"))
        .gateOrdered(col("key"))
    }),
      // the q329 battery with the BY harmonic penalty: c(m) = sum(1/rank)
      // over the battery, running-min monotonicity down the descending p
      """WITH b AS (SELECT event_type kk, ts, event_id, value v FROM events
                WHERE event_type IS NOT NULL AND value IS NOT NULL
                  AND ts IS NOT NULL AND event_id IS NOT NULL),
         m AS (SELECT kk, sum(v) / count(*) mu FROM b GROUP BY 1),
         s AS (SELECT b.kk, ts, event_id,
                 CASE WHEN v > mu THEN 1 ELSE 0 END s
               FROM b JOIN m ON m.kk = b.kk WHERE v <> mu),
         lg AS (SELECT kk, s,
                 lag(s) OVER (PARTITION BY kk ORDER BY ts, event_id) p
               FROM s),
         r AS (SELECT kk, sum(s)::BIGINT n1, sum(1 - s)::BIGINT n2,
                 sum(CASE WHEN p IS NULL OR p <> s THEN 1 ELSE 0
                   END)::BIGINT runs
               FROM lg GROUP BY 1),
         z AS (SELECT kk, (runs - (2.0 * n1 * n2 / (n1 + n2) + 1))
                 / sqrt(2.0 * n1 * n2 * (2.0 * n1 * n2 - (n1 + n2))
                   / (pow((n1 + n2)::DOUBLE, 2) * (n1 + n2 - 1))) zz
               FROM r),
         pv AS (SELECT kk, abs(zz) / sqrt(2.0) az,
                 1.0 / (1.0 + 0.3275911 * abs(zz) / sqrt(2.0)) t FROM z),
         pr AS (SELECT kk, t * (0.254829592 + t * (-0.284496736
                 + t * (1.421413741 + t * (-1.453152027
                 + t * 1.061405429)))) * exp(-az * az) p FROM pv),
         rkd AS (SELECT kk, p, count(*) OVER () m,
                 count(*) OVER () - row_number() OVER (ORDER BY p DESC)
                   + 1 rnk
               FROM pr),
         cm AS (SELECT sum(1.0 / rnk) OVER () hm, kk, p, m, rnk FROM rkd),
         raw AS (SELECT kk, p, p * m * hm / rnk raw FROM cm),
         ad AS (SELECT kk, p, least(min(raw) OVER (ORDER BY p DESC
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
                 1.0) pa
               FROM raw)
         SELECT kk AS "key", round(p, 6) + 0.0 AS p,
           round(pa, 6) + 0.0 AS p_adjusted
         FROM ad ORDER BY kk"""),

    // ---- Gini / top-share concentration of document length mass ----------
    // how concentrated is the corpus' character mass across documents —
    // the inequality summary a mix audit quotes; rank-exact, integer-only
    QuerySpec("q373_gini_concentration", ((s, dir) => {
      StatTests.giniConcentration(read(s, dir, "documents"), "n_chars")
        .select(col("n"), col("total"),
          (round(col("gini"), 6) + lit(0.0)).as("gini"),
          (round(col("top1_share"), 6) + lit(0.0)).as("top1_share"),
          (round(col("top10_share"), 6) + lit(0.0)).as("top10_share"))
    }),
      // exact block-rank Gini: per-value counts, exclusive count window,
      // HUGEINT moment sums (mirroring the decimal(38,0) exact sums), the
      // boundary block of each top-share threshold resolved per block
      """WITH cells AS (SELECT n_chars::BIGINT v, count(*)::BIGINT c
                FROM documents WHERE n_chars IS NOT NULL GROUP BY 1),
         cum AS (SELECT *, coalesce(sum(c) OVER (ORDER BY v
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                 ::BIGINT b FROM cells),
         nn AS (SELECT sum(c)::BIGINT n FROM cells),
         rr AS (SELECT n, n - n // 100 r1, n - n // 10 r10 FROM nn),
         agg AS (SELECT sum(v::HUGEINT * c) t,
                 sum(v::HUGEINT * (c::HUGEINT * b
                   + (CASE WHEN c % 2 = 0
                      THEN (c // 2)::HUGEINT * (c + 1)
                      ELSE c::HUGEINT * ((c + 1) // 2) END))) nsum,
                 sum(CASE WHEN b + c <= r1 THEN v::HUGEINT * c
                     WHEN b < r1 THEN v::HUGEINT * (r1 - b)
                     ELSE 0::HUGEINT END) s1,
                 sum(CASE WHEN b + c <= r10 THEN v::HUGEINT * c
                     WHEN b < r10 THEN v::HUGEINT * (r10 - b)
                     ELSE 0::HUGEINT END) s10
               FROM cum, rr)
         SELECT n, CAST(t AS BIGINT) AS total,
           round(2.0 * CAST(nsum AS DOUBLE)
             / (CAST(n AS DOUBLE) * CAST(t AS DOUBLE))
             - (n + 1.0) / n, 6) + 0.0 AS gini,
           round(CAST(t - s1 AS DOUBLE) / CAST(t AS DOUBLE), 6) + 0.0
             AS top1_share,
           round(CAST(t - s10 AS DOUBLE) / CAST(t AS DOUBLE), 6) + 0.0
             AS top10_share
         FROM agg, rr"""),

    // ---- Hodges-Lehmann: HOW MUCH do click values exceed view values? -----
    // the robust shift estimate (median of all pairwise differences) +
    // Lehmann rank CI; cells quantized to 0.1 so the pair multiset is a
    // bounded cell cross join, never row-wise
    QuerySpec("q376_hodges_lehmann", ((s, dir) => {
      val ev = EventsSource.read(s, s"$dir/events.parquet")
        .filter(col("value").isNotNull)
      val av = ev.filter(col("event_type") === "view")
        .select((round(col("value"), 1) + lit(0.0)).as("v"))
      val bv = ev.filter(col("event_type") === "click")
        .select((round(col("value"), 1) + lit(0.0)).as("v"))
      StatTests.hodgesLehmann(av, bv, "v")
        .select(col("n_a"), col("n_b"), col("n_pairs"),
          (round(col("hl_shift"), 6) + lit(0.0)).as("hl_shift"),
          (round(col("ci_lo"), 6) + lit(0.0)).as("ci_lo"),
          (round(col("ci_hi"), 6) + lit(0.0)).as("ci_hi"))
    }),
      // per-side value cells, the cell cross-join difference table, the
      // exclusive-count window, and four exact order statistics (two
      // middles + the Lehmann CI ranks) resolved per block
      """WITH av AS (SELECT round(value, 1) + 0.0 v FROM events
                WHERE value IS NOT NULL AND event_type = 'view'),
         bv AS (SELECT round(value, 1) + 0.0 v FROM events
                WHERE value IS NOT NULL AND event_type = 'click'),
         ca AS (SELECT v va, count(*)::BIGINT wa FROM av GROUP BY 1),
         cb AS (SELECT v vb, count(*)::BIGINT wb FROM bv GROUP BY 1),
         nn AS (SELECT (SELECT sum(wa) FROM ca)::BIGINT na,
                 (SELECT sum(wb) FROM cb)::BIGINT nb),
         df AS (SELECT (vb - va) d, sum(wb * wa)::BIGINT c
               FROM cb, ca GROUP BY 1),
         cum AS (SELECT *, coalesce(sum(c) OVER (ORDER BY d
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                 ::BIGINT b FROM df),
         tot AS (SELECT sum(c)::BIGINT np FROM df),
         rk AS (SELECT na, nb, np, (np + 1) // 2 r1, (np + 2) // 2 r2,
                 greatest(1, floor(np / 2.0 - 1.959963984540054
                   * sqrt(na::DOUBLE * nb * (na + nb + 1) / 12.0))
                   ::BIGINT + 1) klo,
                 least(np, np - floor(np / 2.0 - 1.959963984540054
                   * sqrt(na::DOUBLE * nb * (na + nb + 1) / 12.0))
                   ::BIGINT) khi
               FROM nn, tot),
         os AS (SELECT
                 min(CASE WHEN b < r1 AND b + c >= r1 THEN d END) o1,
                 min(CASE WHEN b < r2 AND b + c >= r2 THEN d END) o2,
                 min(CASE WHEN b < klo AND b + c >= klo THEN d END) olo,
                 min(CASE WHEN b < khi AND b + c >= khi THEN d END) ohi
               FROM cum, rk)
         SELECT na AS n_a, nb AS n_b, np AS n_pairs,
           round((o1 + o2) / 2.0, 6) + 0.0 AS hl_shift,
           round(olo, 6) + 0.0 AS ci_lo, round(ohi, 6) + 0.0 AS ci_hi
         FROM os, rk"""),

    // ---- empirical-Bayes shrinkage: per-source English rate ---------------
    // the honest per-source leaderboard: moment prior, small sources
    // shrink hard toward the grand rate, big ones keep their evidence
    QuerySpec("q381_eb_rates", ((s, dir) => {
      val docs = read(s, dir, "documents")
        .withColumn("is_en", (col("lang") === "en").cast("long"))
      StatTests.ebShrinkRates(docs, "source", "is_en")
        .select(col("group"), col("n"), col("successes"),
          (round(col("raw_rate"), 6) + lit(0.0)).as("raw_rate"),
          (round(col("shrinkage"), 6) + lit(0.0)).as("shrinkage"),
          (round(col("shrunk_rate"), 6) + lit(0.0)).as("shrunk_rate"))
        .gateOrdered(col("group"))
    }),
      // per-group exact long sums, moment prior (between-group variance
      // minus average m(1-m)/n noise), James-Stein shrink toward the
      // grand rate
      """WITH g AS (SELECT source grp, count(*)::BIGINT n,
                 sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END)::BIGINT y
               FROM documents
               WHERE source IS NOT NULL AND lang IS NOT NULL GROUP BY 1),
         t AS (SELECT sum(n)::BIGINT tn, sum(y)::BIGINT ty,
                 count(*)::BIGINT k FROM g),
         m AS (SELECT tn, ty, k, ty::DOUBLE / tn mm FROM t),
         vh AS (SELECT CASE WHEN k < 2 THEN 0.0 ELSE
                 sum((y::DOUBLE / n - mm) * (y::DOUBLE / n - mm))
                   / (k - 1.0) END vhat,
                 sum(mm * (1.0 - mm) / n) / k nbar
               FROM g, m GROUP BY k, mm),
         tau AS (SELECT greatest(0.0, vhat - nbar) t2 FROM vh)
         SELECT grp AS "group", n, y AS successes,
           round(y::DOUBLE / n, 6) + 0.0 AS raw_rate,
           round(CASE WHEN t2 <= 0 THEN 0.0
             ELSE t2 / (t2 + mm * (1.0 - mm) / n) END, 6) + 0.0
             AS shrinkage,
           round(mm + (CASE WHEN t2 <= 0 THEN 0.0
             ELSE t2 / (t2 + mm * (1.0 - mm) / n) END)
             * (y::DOUBLE / n - mm), 6) + 0.0 AS shrunk_rate
         FROM g, m, tau ORDER BY grp"""),

    // ---- Oaxaca-Blinder: how much of the src0-src1 length gap is tokens? --
    // twofold decomposition of the mean n_chars gap with token count as
    // the composition covariate — explained (composition) vs
    // unexplained (structure) from per-group closed-form OLS
    QuerySpec("q393_oaxaca", ((s, dir) => {
      val docs = read(s, dir, "documents")
        .withColumn("n_tok",
          when(length(trim(col("text"))) === 0, 0)
            .otherwise(size(split(trim(col("text")), "\\s+"))))
      StatTests.oaxacaBlinder(docs, "source", "src0", "src1",
          "n_chars", "n_tok")
        .select(col("n_a"), col("n_b"),
          (round(col("mean_a"), 6) + lit(0.0)).as("mean_a"),
          (round(col("mean_b"), 6) + lit(0.0)).as("mean_b"),
          (round(col("gap"), 6) + lit(0.0)).as("gap"),
          (round(col("explained"), 6) + lit(0.0)).as("explained"),
          (round(col("unexplained"), 6) + lit(0.0)).as("unexplained"),
          (round(col("pct_explained"), 6) + lit(0.0)).as("pct_explained"))
    }),
      // per-group exact moment sums in one conditional reduce, per-group
      // closed-form OLS, and the twofold decomposition from B's structure
      """WITH b AS (SELECT source = 'src0' ga, n_chars,
                 CAST(CASE WHEN length(trim(text)) = 0 THEN 0
                   ELSE len(string_split_regex(trim(text), '\s+'))
                   END AS DECIMAL(8,4)) x0
               FROM documents
               WHERE source IN ('src0', 'src1') AND n_chars IS NOT NULL
                 AND text IS NOT NULL),
         mo AS (SELECT
                 sum(CASE WHEN ga THEN 1 ELSE 0 END)::BIGINT na,
                 CAST(sum(CASE WHEN ga THEN x0
                   ELSE CAST(0 AS DECIMAL(8,4)) END) AS DOUBLE) sxa,
                 sum(CASE WHEN ga THEN n_chars ELSE 0 END)::DOUBLE sya,
                 CAST(sum(CASE WHEN ga
                   THEN CAST(n_chars AS DECIMAL(18,0)) * x0
                   ELSE CAST(0 AS DECIMAL(26,4)) END) AS DOUBLE) sxya,
                 CAST(sum(CASE WHEN ga THEN x0 * x0
                   ELSE CAST(0 AS DECIMAL(16,8)) END) AS DOUBLE) sxxa,
                 sum(CASE WHEN ga THEN 0 ELSE 1 END)::BIGINT nb,
                 CAST(sum(CASE WHEN ga THEN CAST(0 AS DECIMAL(8,4))
                   ELSE x0 END) AS DOUBLE) sxb,
                 sum(CASE WHEN ga THEN 0 ELSE n_chars END)::DOUBLE syb,
                 CAST(sum(CASE WHEN ga THEN CAST(0 AS DECIMAL(26,4))
                   ELSE CAST(n_chars AS DECIMAL(18,0)) * x0 END)
                   AS DOUBLE) sxyb,
                 CAST(sum(CASE WHEN ga THEN CAST(0 AS DECIMAL(16,8))
                   ELSE x0 * x0 END) AS DOUBLE) sxxb
               FROM b),
         co AS (SELECT *,
                 (sxya - sxa * sya / na) / (sxxa - sxa * sxa / na) bba,
                 (sxyb - sxb * syb / nb) / (sxxb - sxb * sxb / nb) bbb
               FROM mo),
         ci AS (SELECT *, sya / na - bba * sxa / na aa,
                 syb / nb - bbb * sxb / nb ab FROM co),
         f AS (SELECT na, nb, sya / na ma, syb / nb mb,
                 sya / na - syb / nb gap,
                 bbb * (sxa / na - sxb / nb) expl,
                 (aa - ab) + (sxa / na) * (bba - bbb) unexpl
               FROM ci)
         SELECT na AS n_a, nb AS n_b, round(ma, 6) + 0.0 AS mean_a,
           round(mb, 6) + 0.0 AS mean_b, round(gap, 6) + 0.0 AS gap,
           round(expl, 6) + 0.0 AS explained,
           round(unexpl, 6) + 0.0 AS unexplained,
           CASE WHEN gap <> 0 THEN round(expl / gap, 6) + 0.0 END
             AS pct_explained
         FROM f"""),

    // ---- Deming regression: calibrate chars-per-doc against token count ---
    // both measures are noisy views of document size, so OLS would
    // attenuate the slope; lambda = 1 orthogonal regression is the
    // instrument-calibration convention
    QuerySpec("q396_deming", ((s, dir) => {
      val docs = read(s, dir, "documents")
        .withColumn("n_tok",
          when(length(trim(col("text"))) === 0, 0)
            .otherwise(size(split(trim(col("text")), "\\s+"))))
      StatTests.demingRegression(docs, "n_tok", "n_chars")
        .select(col("n"),
          (round(col("mean_x"), 6) + lit(0.0)).as("mean_x"),
          (round(col("mean_y"), 6) + lit(0.0)).as("mean_y"),
          (round(col("slope"), 6) + lit(0.0)).as("slope"),
          (round(col("intercept"), 6) + lit(0.0)).as("intercept"),
          (round(col("pearson_r"), 6) + lit(0.0)).as("pearson_r"))
    }),
      // six exact HUGEINT moments -> doubles -> the closed Deming root
      // (lambda = 1), Pearson r from the same centered moments
      """WITH b AS (SELECT n_chars y,
                 CASE WHEN length(trim(text)) = 0 THEN 0
                   ELSE len(string_split_regex(trim(text), '\s+')) END x
               FROM documents
               WHERE n_chars IS NOT NULL AND text IS NOT NULL),
         mo AS (SELECT count(*)::BIGINT n,
                 CAST(sum(x::HUGEINT) AS DOUBLE) sx,
                 CAST(sum(y::HUGEINT) AS DOUBLE) sy,
                 CAST(sum(x::HUGEINT * x) AS DOUBLE) sxx,
                 CAST(sum(y::HUGEINT * y) AS DOUBLE) syy,
                 CAST(sum(x::HUGEINT * y) AS DOUBLE) sxy
               FROM b),
         cm AS (SELECT n, sx / n mx, sy / n my,
                 sxx - sx * sx / n cxx, syy - sy * sy / n cyy,
                 sxy - sx * sy / n cxy
               FROM mo),
         f AS (SELECT n, mx, my,
                 CASE WHEN cxx > 0 AND cyy > 0
                   THEN cxy / sqrt(cxx * cyy) END pr,
                 CASE WHEN cxy <> 0 THEN
                   ((cyy - 1.0 * cxx) + sqrt((cyy - 1.0 * cxx)
                     * (cyy - 1.0 * cxx) + 4.0 * 1.0 * cxy * cxy))
                   / (2.0 * cxy) END slope
               FROM cm)
         SELECT n, round(mx, 6) + 0.0 AS mean_x,
           round(my, 6) + 0.0 AS mean_y, round(slope, 6) + 0.0 AS slope,
           round(my - slope * mx, 6) + 0.0 AS intercept,
           round(pr, 6) + 0.0 AS pearson_r
         FROM f"""),

    // ---- method agreement: does 6*tokens actually measure n_chars? --------
    // Lin's CCC (penalizes scale AND location shift where Pearson
    // forgives both) + the Bland-Altman bias and 95% limits of agreement
    QuerySpec("q397_method_agreement", ((s, dir) => {
      val docs = read(s, dir, "documents")
        .withColumn("est6",
          when(length(trim(col("text"))) === 0, 0)
            .otherwise(size(split(trim(col("text")), "\\s+"))) * 6)
      StatTests.methodAgreement(docs, "est6", "n_chars")
        .select(col("n"),
          (round(col("mean_x"), 6) + lit(0.0)).as("mean_x"),
          (round(col("mean_y"), 6) + lit(0.0)).as("mean_y"),
          (round(col("ccc"), 6) + lit(0.0)).as("ccc"),
          (round(col("pearson_r"), 6) + lit(0.0)).as("pearson_r"),
          (round(col("bias"), 6) + lit(0.0)).as("bias"),
          (round(col("loa_lo"), 6) + lit(0.0)).as("loa_lo"),
          (round(col("loa_hi"), 6) + lit(0.0)).as("loa_hi"))
    }),
      // the same six moments with the 6x token estimate; population-moment
      // CCC (Lin's form) and the sample-sd Bland-Altman limits
      """WITH b AS (SELECT n_chars y,
                 6 * (CASE WHEN length(trim(text)) = 0 THEN 0
                   ELSE len(string_split_regex(trim(text), '\s+')) END) x
               FROM documents
               WHERE n_chars IS NOT NULL AND text IS NOT NULL),
         mo AS (SELECT count(*)::BIGINT n,
                 CAST(sum(x::HUGEINT) AS DOUBLE) sx,
                 CAST(sum(y::HUGEINT) AS DOUBLE) sy,
                 CAST(sum(x::HUGEINT * x) AS DOUBLE) sxx,
                 CAST(sum(y::HUGEINT * y) AS DOUBLE) syy,
                 CAST(sum(x::HUGEINT * y) AS DOUBLE) sxy
               FROM b),
         cm AS (SELECT n, sx / n mx, sy / n my,
                 sxx / n - (sx / n) * (sx / n) vx,
                 syy / n - (sy / n) * (sy / n) vy,
                 sxy / n - (sx / n) * (sy / n) cxy,
                 syy - 2.0 * sxy + sxx sdd, sy - sx sd2
               FROM mo),
         f AS (SELECT n, mx, my,
                 CASE WHEN vx + vy + (mx - my) * (mx - my) > 0 THEN
                   2.0 * cxy / (vx + vy + (mx - my) * (mx - my)) END ccc,
                 CASE WHEN vx > 0 AND vy > 0
                   THEN cxy / sqrt(vx * vy) END pr,
                 my - mx bias,
                 sqrt(greatest((sdd - sd2 * sd2 / n) / (n - 1.0), 0.0)) sdd2
               FROM cm)
         SELECT n, round(mx, 6) + 0.0 AS mean_x,
           round(my, 6) + 0.0 AS mean_y, round(ccc, 6) + 0.0 AS ccc,
           round(pr, 6) + 0.0 AS pearson_r, round(bias, 6) + 0.0 AS bias,
           round(bias - 1.959963985 * sdd2, 6) + 0.0 AS loa_lo,
           round(bias + 1.959963985 * sdd2, 6) + 0.0 AS loa_hi
         FROM f"""),

    // ---- Page's trend: does per-user activity GROW week over week? --------
    // the ordered-alternative twin of Friedman on complete user-week
    // blocks; mid-ranks within each user, L weights late weeks more
    QuerySpec("q398_page_trend", ((s, dir) => {
      val ev = EventsSource.read(s, s"$dir/events.parquet")
        .filter(col("user_id").isNotNull && col("ts").isNotNull)
        .select(col("user_id"),
          floor(unix_timestamp(col("ts")) / 604800).as("wk"),
          lit(1L).as("one"))
      StatTests.pageTrend(ev, "user_id", "wk", "one")
        .select(col("n_items"), col("k"),
          (round(col("l_stat"), 6) + lit(0.0)).as("l_stat"),
          (round(col("mean_l"), 6) + lit(0.0)).as("mean_l"),
          (round(col("var_l"), 6) + lit(0.0)).as("var_l"),
          (round(col("z"), 6) + lit(0.0)).as("z"),
          (round(col("p_value"), 6) + lit(0.0)).as("p_value"))
    }),
      // generic mid-rank Page replay: item-keyed self-join for doubled
      // ranks (exact longs), row_number condition order, closed-form
      // moments, one-sided reflected A&S p
      """WITH pv AS (SELECT user_id it,
                 floor(epoch(ts) / 604800)::BIGINT c, count(*)::BIGINT v
               FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL
               GROUP BY 1, 2),
         kk AS (SELECT count(DISTINCT c)::BIGINT k FROM pv),
         cm AS (SELECT it FROM pv GROUP BY it
               HAVING count(*) = (SELECT k FROM kk)),
         fl AS (SELECT pv.* FROM pv JOIN cm USING (it)),
         ji AS (SELECT c, row_number() OVER (ORDER BY c)::BIGINT j
               FROM (SELECT DISTINCT c FROM pv)),
         r2 AS (SELECT a.it, a.c,
                 2 + sum(CASE WHEN b.v < a.v THEN 2
                   WHEN b.v = a.v THEN 1 ELSE 0 END)::BIGINT r2
               FROM fl a JOIN fl b ON a.it = b.it AND a.c <> b.c
               GROUP BY a.it, a.c, a.v),
         ag AS (SELECT sum(j * r2)::BIGINT l2,
                 count(DISTINCT it)::BIGINT nb
               FROM r2 JOIN ji USING (c)),
         st AS (SELECT l2 / 2.0 l, nb, k,
                 nb * k * (k + 1.0) * (k + 1.0) / 4.0 ml,
                 nb * k * k * (k + 1.0) * (k + 1.0) * (k - 1.0) / 144.0 vl
               FROM ag, kk),
         zz AS (SELECT *, (l - ml) / sqrt(vl) z FROM st),
         sf AS (SELECT *, abs(z) / sqrt(2.0) az,
                 1.0 / (1.0 + 0.3275911 * abs(z) / sqrt(2.0)) tt FROM zz),
         pw AS (SELECT *, 0.5 * tt * (0.254829592 + tt * (-0.284496736
                 + tt * (1.421413741 + tt * (-1.453152027
                 + tt * 1.061405429)))) * exp(-az * az) half FROM sf)
         SELECT nb AS n_items, k, round(l, 6) + 0.0 AS l_stat,
           round(ml, 6) + 0.0 AS mean_l, round(vl, 6) + 0.0 AS var_l,
           round(z, 6) + 0.0 AS z,
           round(least(1.0, CASE WHEN z >= 0 THEN half
             ELSE 1.0 - half END), 6) + 0.0 AS p_value
         FROM pw"""),

    // ---- Welch's ANOVA: doc length across languages, unequal variances ----
    // the heteroscedastic twin of the plain one-way F (language slices
    // rarely share a variance); Welch-Satterthwaite df2
    QuerySpec("q351_welch_anova", ((s, dir) => {
      StatTests.welchAnova(read(s, dir, "documents"), "lang", "n_chars")
        .select(col("n"), col("k"),
          (round(col("f"), 6) + lit(0.0)).as("f"), col("df1"),
          (round(col("df2"), 4) + lit(0.0)).as("df2"))
    }),
      // per-language moments, Welch weights w = n/s², the 1951 F* and
      // Welch-Satterthwaite df2 — pure moment algebra, replayed verbatim
      """WITH g AS (SELECT lang g, count(*)::BIGINT n_i,
                  sum(n_chars::DOUBLE) s, sum(n_chars::DOUBLE * n_chars) q
                FROM documents
                WHERE lang IS NOT NULL AND n_chars IS NOT NULL GROUP BY 1),
         m AS (SELECT g, n_i, s / n_i mi,
                 (q - s * s / n_i) / (n_i - 1) vv FROM g),
         w AS (SELECT g, n_i, mi, vv, n_i / vv wi FROM m),
         t AS (SELECT sum(wi) ww, count(*)::BIGINT k, sum(n_i)::BIGINT n,
                 sum(wi * mi) swm, min(n_i) mn, min(vv) mv FROM w),
         t2 AS (SELECT ww, k, n, mn, mv, swm / ww mbar FROM t),
         x AS (SELECT k, n, mn, mv,
                 sum(wi * (mi - mbar) * (mi - mbar)) / (k - 1) aa,
                 sum((1 - wi / ww) * (1 - wi / ww) / (n_i - 1)) hh
               FROM w, t2 GROUP BY k, n, mn, mv)
         SELECT n, k,
           CASE WHEN k >= 2 AND mn >= 2 AND mv > 0 THEN
             round(aa / (1 + 2.0 * (k - 2) / (k::DOUBLE * k - 1) * hh), 6)
               + 0.0 END AS f,
           (k - 1)::BIGINT AS df1,
           CASE WHEN k >= 2 AND mn >= 2 AND mv > 0 THEN
             round((k::DOUBLE * k - 1) / (3 * hh), 4) + 0.0 END AS df2
         FROM x"""),

    // ---- Jonckheere-Terpstra: do event values TREND across weeks? ---------
    // ordered-cohort trend test (KW asks "any difference", JT asks for a
    // monotone trend along the week order); integer-bucketed values keep
    // every J/tie ingredient half-integer-exact on both engines
    QuerySpec("q350_jonckheere", ((s, dir) => {
      val ev = EventsSource.read(s, s"$dir/events.parquet")
        .filter(col("ts").isNotNull && col("value").isNotNull)
        .select(floor(unix_timestamp(col("ts")) / 604800).cast("string")
          .as("wk"), floor(col("value")).as("vb"))
      StatTests.jonckheereTerpstra(ev, "wk", "vb")
        .select(col("n"), col("k"),
          (round(col("j_stat"), 4) + lit(0.0)).as("j_stat"),
          (round(col("mean_j"), 4) + lit(0.0)).as("mean_j"),
          (round(col("var_j"), 4) + lit(0.0)).as("var_j"),
          (round(col("z"), 6) + lit(0.0)).as("z"),
          (round(col("p_value"), 6) + lit(0.0)).as("p_value"))
    }),
      // naive pairwise J* over the (week, bucket) count cells (bounded by
      // buckets x weeks), tie-corrected Hollander-Wolfe variance, shared
      // A&S two-sided p — every ingredient half-integer-exact
      """WITH gv AS (SELECT floor(epoch(ts) / 604800)::BIGINT::VARCHAR wk,
                  floor(value) vb
                FROM events WHERE ts IS NOT NULL AND value IS NOT NULL),
         pgv AS (SELECT wk, vb, count(*)::BIGINT c FROM gv GROUP BY 1, 2),
         nn AS (SELECT count(*)::BIGINT n FROM gv),
         gsz AS (SELECT wk, sum(c)::DOUBLE ng FROM pgv GROUP BY 1),
         jj AS (SELECT sum(a.c::DOUBLE * b.c *
                 CASE WHEN a.vb < b.vb THEN 1.0 WHEN a.vb = b.vb THEN 0.5
                   ELSE 0.0 END) j
               FROM pgv a JOIN pgv b ON a.wk < b.wk),
         tm AS (SELECT sum(t * (t - 1) * (t * 2 + 5)) t1,
                 sum(t * (t - 1) * (t - 2)) t2, sum(t * (t - 1)) t3
               FROM (SELECT sum(c)::DOUBLE t FROM pgv GROUP BY vb)),
         gm AS (SELECT sum(ng * ng) sn2,
                 sum(ng * (ng - 1) * (ng * 2 + 5)) g1,
                 sum(ng * (ng - 1) * (ng - 2)) g2,
                 sum(ng * (ng - 1)) g3, count(*)::BIGINT k FROM gsz),
         st AS (SELECT n, k, j, (n::DOUBLE * n - sn2) / 4.0 meanj,
                 (n::DOUBLE * (n - 1) * (n::DOUBLE * 2 + 5) - g1 - t1)
                   / 72.0
                   + g2 * t2 / (36.0 * n * (n - 1.0) * (n - 2))
                   + g3 * t3 / (8.0 * n * (n - 1.0)) varj
               FROM nn, jj, tm, gm),
         zz AS (SELECT *, CASE WHEN k >= 2 AND varj > 0
                 THEN (j - meanj) / sqrt(varj) END z FROM st),
         pz AS (SELECT *, abs(z) / sqrt(2.0) az,
                 1.0 / (1.0 + 0.3275911 * abs(z) / sqrt(2.0)) t FROM zz)
         SELECT n, k, round(j, 4) + 0.0 AS j_stat,
           round(meanj, 4) + 0.0 AS mean_j, round(varj, 4) + 0.0 AS var_j,
           round(z, 6) + 0.0 AS z,
           CASE WHEN z IS NOT NULL THEN round(least(1.0,
             t * (0.254829592 + t * (-0.284496736 + t * (1.421413741
               + t * (-1.453152027 + t * 1.061405429)))) * exp(-az * az)),
             6) + 0.0 END AS p_value
         FROM pz"""),

    // ---- Fleiss' kappa: per-user agreement over event types (Association) -
    // multi-rater agreement treating each user as an item and each of
    // their events as one rating; items with < 2 ratings drop
    QuerySpec("q306_fleiss_kappa", ((s, dir) => {
      val ev = EventsSource.read(s, s"$dir/events.parquet")
      graft.profile.Association.fleissKappa(ev, "user_id", "event_type")
        .select(col("n_items"), col("n_ratings"), col("k_categories"),
          (round(col("p_bar"), 6) + lit(0.0)).as("p_bar"),
          (round(col("p_e"), 6) + lit(0.0)).as("p_e"),
          (round(col("kappa"), 6) + lit(0.0)).as("kappa"))
    }),
      // (user, event_type) contingency cells; items with >= 2 ratings;
      // the unequal-n Fleiss generalization
      """WITH cells AS (SELECT user_id i, event_type j, count(*)::DOUBLE nij
                FROM events
                WHERE user_id IS NOT NULL AND event_type IS NOT NULL
                GROUP BY 1, 2),
         pi AS (SELECT i, sum(nij) ni, sum(nij * nij) sq FROM cells
                GROUP BY 1 HAVING sum(nij) >= 2),
         ia AS (SELECT count(*)::BIGINT n_items, sum(ni)::BIGINT n_ratings,
                 avg((sq - ni) / (ni * (ni - 1))) p_bar
               FROM pi),
         kept AS (SELECT c.j, c.nij FROM cells c JOIN pi ON pi.i = c.i),
         bc AS (SELECT j, sum(nij) cj FROM kept GROUP BY 1),
         pe AS (SELECT count(*)::BIGINT k_categories,
                 sum(pow(cj / (SELECT sum(cj) FROM bc), 2)) p_e
               FROM bc)
         SELECT n_items, n_ratings, k_categories,
           round(p_bar, 6) + 0.0 AS p_bar, round(p_e, 6) + 0.0 AS p_e,
           CASE WHEN p_e < 1
             THEN round((p_bar - p_e) / (1 - p_e), 6) + 0.0 END AS kappa
         FROM ia, pe"""),

    // ---- seasonal-naive MASE backtest on daily volume (Drift) -------------
    // MASE < 1 = weekly structure beats yesterday; zero-filled day spine
    QuerySpec("q301_mase", ((s, dir) => {
      val ev = EventsSource.read(s, s"$dir/events.parquet")
        .filter(col("ts").isNotNull)
      val daily = ev.groupBy(floor(unix_timestamp(col("ts")) / 86400).as("t"))
        .agg(count(lit(1)).cast("double").as("y"))
      val spine = ev
        .agg(floor(unix_timestamp(min(col("ts"))) / 86400).as("lo"),
          floor(unix_timestamp(max(col("ts"))) / 86400).as("hi"))
        .select(explode(sequence(col("lo"), col("hi"))).as("t"))
      val series = spine.join(daily, Seq("t"), "left").na.fill(0.0, Seq("y"))
      StatTests.maseBacktest(series, "t", "y", season = 7)
        .select(col("n"), col("n_scored"),
          (round(col("mae_seasonal"), 6) + lit(0.0)).as("mae_seasonal"),
          (round(col("mae_naive1"), 6) + lit(0.0)).as("mae_naive1"),
          (round(col("mase"), 6) + lit(0.0)).as("mase"))
    }),
      // zero-filled day spine; two shifted equi-joins, one reduce
      """WITH e AS (SELECT floor(epoch(ts) / 86400)::BIGINT d FROM events
                WHERE ts IS NOT NULL),
         daily AS (SELECT d, count(*)::DOUBLE y FROM e GROUP BY 1),
         spine AS (SELECT unnest(range((SELECT min(d) FROM e),
                  (SELECT max(d) FROM e) + 1)) d),
         series AS (SELECT spine.d t, coalesce(daily.y, 0) y
                FROM spine LEFT JOIN daily ON daily.d = spine.d),
         sc AS (SELECT s.y, s7.y ys, s1.y y1
                FROM series s
                JOIN series s7 ON s.t = s7.t + 7
                JOIN series s1 ON s.t = s1.t + 1),
         nn AS (SELECT count(*)::BIGINT n FROM series),
         t AS (SELECT count(*)::BIGINT ns, avg(abs(y - ys)) ms,
                 avg(abs(y - y1)) m1
               FROM sc)
         SELECT n, ns AS n_scored, round(ms, 6) + 0.0 AS mae_seasonal,
           round(m1, 6) + 0.0 AS mae_naive1,
           CASE WHEN m1 > 0 THEN round(ms / m1, 6) + 0.0 END AS mase
         FROM t, nn"""),

    // ---- Wilcoxon signed-rank: per-user H1 vs H2 activity (Drift) ---------
    // the PAIRED shift test (q229's MW assumes independent samples);
    // zero-difference users drop, ties get average ranks
    QuerySpec("q294_wilcoxon", ((s, dir) => {
      val ev = EventsSource.read(s, s"$dir/events.parquet")
        .filter(col("ts").isNotNull && col("user_id").isNotNull)
      val split = lit("2024-01-16").cast("date")
      val perUser = ev.groupBy(col("user_id")).agg(
        sum(when(to_date(col("ts")) < split, 1L).otherwise(0L))
          .cast("double").as("x"),
        sum(when(to_date(col("ts")) >= split, 1L).otherwise(0L))
          .cast("double").as("y"))
      StatTests.wilcoxonSignedRank(perUser, "x", "y")
        .select(col("n_pairs"), col("n_nonzero"),
          col("w_plus"), col("w_minus"),
          (round(col("z"), 6) + lit(0.0)).as("z"))
    }),
      // same distinct-|d| average-rank cumsum and tie-corrected variance
      """WITH pu AS (SELECT user_id,
                  sum(CASE WHEN ts::DATE < DATE '2024-01-16'
                    THEN 1 ELSE 0 END)::DOUBLE x,
                  sum(CASE WHEN ts::DATE >= DATE '2024-01-16'
                    THEN 1 ELSE 0 END)::DOUBLE y
                FROM events WHERE ts IS NOT NULL AND user_id IS NOT NULL
                GROUP BY 1),
         dd AS (SELECT x - y d FROM pu),
         nz AS (SELECT abs(d) v, d FROM dd WHERE d <> 0),
         byv AS (SELECT v, count(*)::BIGINT cnt,
                  sum(CASE WHEN d > 0 THEN 1 ELSE 0 END)::BIGINT pos
                FROM nz GROUP BY 1),
         c AS (SELECT v, cnt, pos,
                 coalesce(sum(cnt) OVER (ORDER BY v
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) bef
               FROM byv),
         t AS (SELECT sum(pos * (bef + (cnt + 1) / 2.0)) wp,
                 sum(cnt::DOUBLE * cnt * cnt - cnt) tmass,
                 sum(cnt)::BIGINT n
               FROM c),
         np AS (SELECT count(*)::BIGINT npairs FROM pu)
         SELECT npairs AS n_pairs, n AS n_nonzero, wp AS w_plus,
           n::DOUBLE * (n + 1) / 2 - wp AS w_minus,
           round((wp - n::DOUBLE * (n + 1) / 4)
             / sqrt(n::DOUBLE * (n + 1) * (2 * n + 1) / 24 - tmass / 48), 6)
             + 0.0 AS z
         FROM t, np"""),

    // ---- Friedman test: event-type preference across users (Association) --
    // k=5 related treatments (event types) blocked by user; within-user
    // ranks cancel per-user activity scale
    QuerySpec("q295_friedman", ((s, dir) => {
      val ev = EventsSource.read(s, s"$dir/events.parquet")
        .filter(col("user_id").isNotNull && col("event_type").isNotNull)
        .groupBy(col("user_id"), col("event_type"))
        .agg(count(lit(1)).cast("double").as("cnt"))
      graft.profile.Association.friedmanTest(ev, "user_id", "event_type", "cnt")
        .select(col("n_blocks"), col("k"),
          (round(col("chi2"), 6) + lit(0.0)).as("chi2"), col("dof"))
    }),
      // within-block average ranks via RANGE-frame peer counts; the
      // tie-general chi2 with A - C in the denominator
      """WITH cell AS (SELECT user_id b, event_type t, count(*)::DOUBLE v
                FROM events
                WHERE user_id IS NOT NULL AND event_type IS NOT NULL
                GROUP BY 1, 2),
         kt AS (SELECT count(DISTINCT t) kk FROM cell),
         comp AS (SELECT b FROM cell GROUP BY b
                HAVING count(*) = (SELECT kk FROM kt)),
         cells AS (SELECT cell.* FROM cell JOIN comp USING (b)),
         rk AS (SELECT b, t,
                 (2 * (count(*) OVER (PARTITION BY b ORDER BY v
                    RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   - count(*) OVER (PARTITION BY b, v))
                  + count(*) OVER (PARTITION BY b, v) + 1) / 2.0 r
               FROM cells),
         rs AS (SELECT t, sum(r) rj, sum(r * r) r2 FROM rk GROUP BY 1),
         f AS (SELECT count(*)::BIGINT kk, sum(rj * rj) rj2, sum(r2) a2
               FROM rs),
         nb AS (SELECT count(*)::BIGINT nbl FROM comp)
         SELECT nbl AS n_blocks, kk::INT AS k,
           CASE WHEN a2 - nbl::DOUBLE * kk * (kk + 1) * (kk + 1) / 4 > 0 THEN
             round((kk - 1) * (rj2 - nbl::DOUBLE * nbl * kk * (kk + 1)
                 * (kk + 1) / 4)
               / (a2 - nbl::DOUBLE * kk * (kk + 1) * (kk + 1) / 4), 6) + 0.0
           END AS chi2,
           (kk - 1)::INT AS dof
         FROM f, nb"""),

    // ---- partial correlation: price vs line count given quantity ----------
    // does order value track line count once total quantity is held fixed?
    QuerySpec("q296_partial_corr", ((s, dir) => {
      val li = read(s, dir, "lineitem").groupBy(col("l_orderkey"))
        .agg(count(lit(1)).cast("double").as("n_lines"),
          sum(col("l_quantity")).as("sum_qty"))
      val ord = read(s, dir, "orders")
        .select(col("o_orderkey"), col("o_totalprice"))
      val base = ord.join(li, col("o_orderkey") === col("l_orderkey"))
      graft.profile.Association.partialCorrelation(
          base, "o_totalprice", "n_lines", "sum_qty")
        .select(col("n"),
          (round(col("r_xy"), 6) + lit(0.0)).as("r_xy"),
          (round(col("r_xz"), 6) + lit(0.0)).as("r_xz"),
          (round(col("r_yz"), 6) + lit(0.0)).as("r_yz"),
          (round(col("r_xy_given_z"), 6) + lit(0.0)).as("r_xy_given_z"))
    }),
      // three Pearson marginals from one pass -> the first-order identity
      """WITH li AS (SELECT l_orderkey, count(*)::DOUBLE nl,
                  sum(l_quantity) sq
                FROM lineitem GROUP BY 1),
         b AS (SELECT o_totalprice x, nl y, sq z
               FROM orders JOIN li ON o_orderkey = l_orderkey
               WHERE o_totalprice IS NOT NULL),
         c AS (SELECT count(*)::BIGINT n, corr(x, y) rxy, corr(x, z) rxz,
                 corr(y, z) ryz
               FROM b)
         SELECT n, round(rxy, 6) + 0.0 AS r_xy, round(rxz, 6) + 0.0 AS r_xz,
           round(ryz, 6) + 0.0 AS r_yz,
           CASE WHEN rxy IS NOT NULL AND rxz IS NOT NULL AND ryz IS NOT NULL
               AND (1 - rxz * rxz) * (1 - ryz * ryz) > 0 THEN
             round((rxy - rxz * ryz)
               / sqrt((1 - rxz * rxz) * (1 - ryz * ryz)), 6) + 0.0
           END AS r_xy_given_z
         FROM c"""),

    // ---- ICC(1): doc-length clustering within sources (Drift) -------------
    // the design-effect number: how clone-like are same-source docs
    QuerySpec("q297_icc", ((s, dir) => {
      StatTests.icc1(read(s, dir, "documents"), "source", "n_chars")
        .select(col("n"), col("k"),
          (round(col("k0"), 6) + lit(0.0)).as("k0"),
          (round(col("ms_between"), 4) + lit(0.0)).as("ms_between"),
          (round(col("ms_within"), 4) + lit(0.0)).as("ms_within"),
          (round(col("icc1"), 6) + lit(0.0)).as("icc1"))
    }),
      // the anova moment pass + sum ni^2 for the unbalanced k0
      """WITH g AS (SELECT source, count(*)::BIGINT ng,
                  sum(n_chars::DOUBLE) s, sum(n_chars::DOUBLE * n_chars) q
                FROM documents
                WHERE source IS NOT NULL AND n_chars IS NOT NULL GROUP BY 1),
         t AS (SELECT sum(ng)::BIGINT n, count(*)::BIGINT k,
                 sum(s * s / ng) sg, sum(s) st, sum(q) qt,
                 sum(ng::DOUBLE * ng) n2
               FROM g),
         f AS (SELECT n, k, (sg - st * st / n) / (k - 1) msb,
                 (qt - sg) / (n - k) msw,
                 (n - n2 / n) / (k - 1) k0
               FROM t)
         SELECT n, k, round(k0, 6) + 0.0 AS k0,
           round(msb, 4) + 0.0 AS ms_between,
           round(msw, 4) + 0.0 AS ms_within,
           CASE WHEN msb + (k0 - 1) * msw > 0 THEN
             round((msb - msw) / (msb + (k0 - 1) * msw), 6) + 0.0
           END AS icc1
         FROM f"""),

    // ---- Cochran-Mantel-Haenszel stratified association (Association) -----
    // is the even-user vs odd-user error-rate gap consistent across
    // weekdays? pooled 2x2 per-stratum test + Mantel-Haenszel odds ratio
    QuerySpec("q273_cmh", ((s, dir) => {
      val ev = EventsSource.read(s, s"$dir/events.parquet")
        .filter(col("ts").isNotNull)
        .select(dayofweek(to_date(col("ts"))).as("dow"),
          (col("user_id") % 2 === 0).as("even_user"),
          (col("event_type") === "error").as("is_err"))
      graft.profile.Association.cmhTest(ev, "dow", "even_user", "is_err")
        .select(col("n_strata"), col("n"), col("sum_a"),
          (round(col("sum_e_a"), 6) + lit(0.0)).as("sum_e_a"),
          (round(col("chi2_cmh"), 6) + lit(0.0)).as("chi2_cmh"),
          (round(col("or_mh"), 6) + lit(0.0)).as("or_mh"))
    }),
      // per-weekday 2x2 tables -> hypergeometric mean/variance, pooled with
      // the 0.5 continuity correction; MH odds ratio alongside
      """WITH b AS (SELECT dayofweek(ts::DATE) s,
                  (user_id % 2 = 0) e, (event_type = 'error') o
                FROM events WHERE ts IS NOT NULL AND user_id IS NOT NULL
                  AND event_type IS NOT NULL),
         st AS (SELECT s,
                  sum(CASE WHEN e AND o THEN 1 ELSE 0 END)::BIGINT a,
                  sum(CASE WHEN e AND NOT o THEN 1 ELSE 0 END)::BIGINT bb,
                  sum(CASE WHEN NOT e AND o THEN 1 ELSE 0 END)::BIGINT c,
                  sum(CASE WHEN NOT e AND NOT o THEN 1 ELSE 0 END)::BIGINT d
                FROM b GROUP BY 1),
         sn AS (SELECT *, a + bb + c + d AS n FROM st WHERE a+bb+c+d > 1),
         agg AS (SELECT count(*)::BIGINT n_strata, sum(n)::BIGINT n,
             sum(a)::BIGINT sum_a,
             sum((a + bb)::DOUBLE * (a + c) / n) sum_e,
             sum((a + bb)::DOUBLE * (c + d) / n * (a + c) / n * (bb + d)
               / (n - 1)) v,
             sum(a::DOUBLE * d / n) orn, sum(bb::DOUBLE * c / n) ord
           FROM sn)
         SELECT n_strata, n, sum_a, round(sum_e, 6) + 0.0 AS sum_e_a,
           (CASE WHEN v > 0 THEN
             round(pow(greatest(abs(sum_a - sum_e) - 0.5, 0.0), 2) / v, 6)
            END) + 0.0 AS chi2_cmh,
           (CASE WHEN ord > 0 THEN round(orn / ord, 6) END) + 0.0 AS or_mh
         FROM agg"""),

    // ---- Breslow-Day homogeneity of the q273 odds ratios -------------------
    // CMH's required companion: is the even/odd error-rate odds ratio the
    // SAME on every weekday? quadratic expected cells under the pooled OR,
    // per-stratum contributions quantized to 9-dp longs before the sum
    QuerySpec("q365_breslow_day", ((s, dir) => {
      val ev = EventsSource.read(s, s"$dir/events.parquet")
        .filter(col("ts").isNotNull)
        .select(dayofweek(to_date(col("ts"))).as("dow"),
          (col("user_id") % 2 === 0).as("even_user"),
          (col("event_type") === "error").as("is_err"))
      graft.profile.Association.breslowDay(ev, "dow", "even_user", "is_err")
        .select(col("n_strata"), col("n"),
          (round(col("or_mh"), 6) + lit(0.0)).as("or_mh"),
          (round(col("bd_chi2"), 6) + lit(0.0)).as("bd_chi2"),
          col("df"),
          (round(col("p_value"), 6) + lit(0.0)).as("p_value"))
    }),
      // the q273 strata; MH odds ratio from 12-dp-quantized long sums, the
      // STRICTLY-in-bounds quadratic root per stratum (boundary strata —
      // no in-bounds root — are excluded from both the BD sum and the df
      // count, mirroring breslowDay's K_eff rule), 9-dp-quantized BD
      // contributions; the even-df closed-form survival is specialized to
      // the keff = 7 this data yields (all 7 dow strata contribute)
      """WITH b AS (SELECT dayofweek(ts::DATE) s,
                  (user_id % 2 = 0) e, (event_type = 'error') o
                FROM events WHERE ts IS NOT NULL AND user_id IS NOT NULL
                  AND event_type IS NOT NULL),
         st AS (SELECT s,
                  sum(CASE WHEN e AND o THEN 1 ELSE 0 END)::BIGINT a,
                  sum(CASE WHEN e AND NOT o THEN 1 ELSE 0 END)::BIGINT bb,
                  sum(CASE WHEN NOT e AND o THEN 1 ELSE 0 END)::BIGINT c,
                  sum(CASE WHEN NOT e AND NOT o THEN 1 ELSE 0 END)::BIGINT d
                FROM b GROUP BY 1),
         sn AS (SELECT *, a + bb + c + d AS n FROM st WHERE a+bb+c+d > 1),
         ps AS (SELECT count(*)::BIGINT k, sum(n)::BIGINT nt,
                 sum(round(a::DOUBLE * d / n * 1e12)::BIGINT)::BIGINT orn,
                 sum(round(bb::DOUBLE * c / n * 1e12)::BIGINT)::BIGINT ord
               FROM sn),
         pp AS (SELECT k, nt, orn::DOUBLE / ord AS psi FROM ps),
         term AS (SELECT sn.a, sn.n, pp.psi,
                 (sn.a + sn.bb)::DOUBLE r1, (sn.a + sn.c)::DOUBLE c1,
                 sn.n::DOUBLE nd
               FROM sn, pp),
         t1 AS (SELECT *, psi * (r1 + c1) + (nd - r1 - c1) AS bq FROM term),
         t2 AS (SELECT *, sqrt(greatest(bq * bq
                 - 4.0 * (psi - 1.0) * psi * r1 * c1, 0.0)) AS disc
               FROM t1),
         t3 AS (SELECT *, CASE WHEN psi = 1.0 THEN
                   (CASE WHEN r1 * c1 / nd > greatest(0.0, r1 + c1 - nd)
                      AND r1 * c1 / nd < least(r1, c1)
                    THEN r1 * c1 / nd END)
                 WHEN (bq - disc) / (2.0 * (psi - 1.0))
                     > greatest(0.0, r1 + c1 - nd)
                   AND (bq - disc) / (2.0 * (psi - 1.0)) < least(r1, c1)
                 THEN (bq - disc) / (2.0 * (psi - 1.0))
                 WHEN (bq + disc) / (2.0 * (psi - 1.0))
                     > greatest(0.0, r1 + c1 - nd)
                   AND (bq + disc) / (2.0 * (psi - 1.0)) < least(r1, c1)
                 THEN (bq + disc) / (2.0 * (psi - 1.0)) END AS t
               FROM t2),
         t4 AS (SELECT CASE WHEN t IS NOT NULL AND t > 0 AND r1 - t > 0
                  AND c1 - t > 0 AND nd - r1 - c1 + t > 0
                 THEN round((a - t) * (a - t)
                   / (1.0 / (1.0 / t + 1.0 / (r1 - t) + 1.0 / (c1 - t)
                     + 1.0 / (nd - r1 - c1 + t))) * 1e9)::BIGINT
                 ELSE NULL END AS bdq
               FROM t3),
         f AS (SELECT pp.k, pp.nt, pp.psi,
                 (SELECT coalesce(sum(bdq), 0) FROM t4) / 1e9 AS bd,
                 (SELECT count(bdq) FROM t4)::BIGINT AS keff FROM pp)
         SELECT k AS n_strata, nt AS n, round(psi, 6) + 0.0 AS or_mh,
           round(bd, 6) + 0.0 AS bd_chi2, (keff - 1)::BIGINT AS df,
           CASE WHEN keff = 7 THEN round(least(1.0, exp(-bd / 2)
             * (1 + bd / 2 + pow(bd / 2, 2) / 2)), 6) + 0.0 END AS p_value
         FROM f"""),

    // ---- Mann-Kendall monotone-trend test on the daily rate (Drift) -------
    // the significance companion of q265's Theil-Sen slope; integer-exact
    // S and tie mass
    QuerySpec("q272_mann_kendall", ((s, dir) => {
      StatTests.mannKendall(EventsSource.read(s, s"$dir/events.parquet"), "ts")
        .select(col("n_days"), col("s"),
          (round(col("var_s"), 4) + lit(0.0)).as("var_s"),
          (round(col("z"), 6) + lit(0.0)).as("z"), col("trend"))
    }),
      // integer-exact S and tie mass over the bounded day-pair join;
      // continuity-corrected z with the shared z-critical literal
      """WITH d AS (SELECT ts::DATE AS day, count(*)::BIGINT y FROM events
                WHERE ts IS NOT NULL GROUP BY 1),
         s AS (SELECT sum(CASE WHEN b.y > a.y THEN 1
                          WHEN b.y < a.y THEN -1 ELSE 0 END)::BIGINT s
               FROM d a JOIN d b ON b.day > a.day),
         tt AS (SELECT coalesce(sum(t * (t - 1) * (2 * t + 5)), 0)::BIGINT m
                FROM (SELECT count(*)::BIGINT t FROM d GROUP BY y) ts2),
         nn AS (SELECT count(*)::BIGINT n FROM d),
         v AS (SELECT nn.n, s.s,
                 (nn.n::DOUBLE * (nn.n - 1) * (2 * nn.n + 5) - tt.m) / 18.0
                   vs
               FROM nn, s, tt)
         SELECT n AS n_days, s,
           round(vs, 4) + 0.0 AS var_s,
           (CASE WHEN vs > 0 THEN round(CASE WHEN s > 0
               THEN (s - 1) / sqrt(vs)
               WHEN s < 0 THEN (s + 1) / sqrt(vs) ELSE 0.0 END, 6) END)
             + 0.0 AS z,
           CASE WHEN vs > 0 AND (CASE WHEN s > 0 THEN (s - 1) / sqrt(vs)
                  WHEN s < 0 THEN (s + 1) / sqrt(vs) ELSE 0.0 END)
                  > 1.959963984540054 THEN 'increasing'
                WHEN vs > 0 AND (CASE WHEN s > 0 THEN (s - 1) / sqrt(vs)
                  WHEN s < 0 THEN (s + 1) / sqrt(vs) ELSE 0.0 END)
                  < -1.959963984540054 THEN 'decreasing'
                ELSE 'none' END AS trend
         FROM v"""))

  /** Shared q303/q304 series: zero-filled hourly event counts with the
    * hour index REBASED to 0..n−1 (cos/sin arguments stay small — the
    * q282 spine shifted to the origin). */
  private def rebasedHourlySeries(s: SparkSession, dir: String): DataFrame = {
    val ev = EventsSource.read(s, s"$dir/events.parquet")
      .filter(col("ts").isNotNull)
    val hourly = ev
      .groupBy(floor(unix_timestamp(col("ts")) / 3600).as("h"))
      .agg(count(lit(1)).cast("double").as("y"))
    val bounds = ev
      .agg(floor(unix_timestamp(min(col("ts"))) / 3600).as("lo"),
        floor(unix_timestamp(max(col("ts"))) / 3600).as("hi"))
    bounds.select(col("lo"), explode(sequence(col("lo"), col("hi"))).as("h"))
      .join(hourly, Seq("h"), "left")
      .na.fill(0.0, Seq("y"))
      .select((col("h") - col("lo")).as("t"), col("y"))
  }
}
