package graft
package catalog

import org.apache.spark.sql.functions._

import graft.catalog.CatalogSupport._
import graft.operators.Dedup

/** Graph operators: PageRank, triangles, co-occurrence features, k-core
  * (GraphFeatures, Components). */
object GraphQueries {

  lazy val specs: Seq[QuerySpec] = Seq(
    // ---- PageRank over the near-dup graph -------------------------------
    // authority scores on the duplicate-pair graph (hub variants rank
    // high — the canonical-doc signal); 2 Lloyd-style driver-sequenced
    // iterations, contributions decimal-exact, every constant written as
    // the same literal expression the oracle uses
    QuerySpec("q180_pagerank_neardup", ((s, dir) => {
      val docs = read(s, dir, "documents")
      val edges = Dedup.minhashLsh(docs, "doc_id", "text", threshold = 0.7,
          materialize = true)
        .select(col("id_a"), col("id_b"))
      graft.operators.Components.pageRank(docs.select(col("doc_id").as("id")), edges, iterations = 2)
        .select(col("id").as("doc_id"), col("rank"))
        .gateOrdered(col("doc_id"))
    }),
      // Two PageRank iterations replayed exactly (see pageRankSql)
      pageRankSql(iterations = 2)),

    // ---- triangles + clustering coefficient on the near-dup graph -------
    QuerySpec("q181_triangle_stats", ((s, dir) => {
      val docs = read(s, dir, "documents")
      val edges = Dedup.minhashLsh(docs, "doc_id", "text", threshold = 0.7,
          materialize = true)
        .select(col("id_a"), col("id_b"))
      graft.operators.Components
        .triangleStats(docs.select(col("doc_id").as("id")), edges)
        .filter(col("degree") > 0) // graph members only: bounded output
        .select(col("id").as("doc_id"), col("degree"),
          col("n_triangles"), col("clustering"))
        .gateOrdered(col("doc_id"))
    }),
      // Triangles by ordered two-join enumeration over exact-Jaccard edges;
      // integer counts, one engine-exact double division for the coefficient
      s"""WITH pairs AS (${jaccardPairsSql(0.7)}),
          canon AS (SELECT least(id_a, id_b) AS a, greatest(id_a, id_b) AS b
                    FROM pairs WHERE id_a <> id_b),
          deg AS (SELECT id, count(*)::BIGINT AS degree FROM (
                    SELECT a AS id FROM canon UNION ALL SELECT b FROM canon) t
                  GROUP BY id),
          tris AS (SELECT e1.a, e1.b, e2.b AS c
                   FROM canon e1 JOIN canon e2 ON e1.b = e2.a
                   WHERE EXISTS (SELECT 1 FROM canon e3
                                 WHERE e3.a = e1.a AND e3.b = e2.b)),
          pv AS (SELECT id, count(*)::BIGINT AS n_triangles FROM (
                   SELECT a AS id FROM tris
                   UNION ALL SELECT b FROM tris
                   UNION ALL SELECT c FROM tris) t
                 GROUP BY id)
          SELECT deg.id AS doc_id, deg.degree,
                 coalesce(pv.n_triangles, 0)::BIGINT AS n_triangles,
                 CASE WHEN deg.degree < 2 THEN 0.0
                      ELSE round(2.0 * coalesce(pv.n_triangles, 0)
                                 / (deg.degree * (deg.degree - 1)), 6)
                 END AS clustering
          FROM deg LEFT JOIN pv ON pv.id = deg.id
          ORDER BY doc_id"""),

    // ---- Adamic-Adar supplier pairs sharing parts (GraphFeatures) ---------
    // bipartite co-occurrence: keyed self-join over parts, never
    // all-pairs; jaccard over full supplier part-sets
    QuerySpec("q313_adamic_adar", ((s, dir) => {
      val edges = read(s, dir, "lineitem")
        .select(col("l_suppkey").as("supp"), col("l_partkey").as("part"))
      graft.operators.GraphFeatures
        .coOccurrencePairs(edges, "supp", "part", minCommon = 140)
        .select(col("a"), col("b"), col("common"),
          (round(col("adamic_adar"), 6) + lit(0.0)).as("adamic_adar"),
          (round(col("jaccard"), 6) + lit(0.0)).as("jaccard"))
        .gateOrdered(col("a"), col("b"))
    }),
      // the same distinct-edge self-join over parts; AA weight from the
      // part's supplier degree; jaccard from full degrees
      """WITH e AS (SELECT DISTINCT l_suppkey a, l_partkey nb FROM lineitem
                WHERE l_suppkey IS NOT NULL AND l_partkey IS NOT NULL),
         nd AS (SELECT nb, count(*)::BIGINT dn FROM e GROUP BY 1),
         sd AS (SELECT a, count(*)::BIGINT d FROM e GROUP BY 1),
         p AS (SELECT l.a a, r.a b, count(*)::BIGINT common,
                 sum(1.0 / ln(nd.dn)) aa
               FROM e l JOIN e r ON l.nb = r.nb AND l.a < r.a
               JOIN nd ON nd.nb = l.nb
               GROUP BY 1, 2 HAVING count(*) >= 140)
         SELECT p.a, p.b, common, round(aa, 6) + 0.0 AS adamic_adar,
           round(common::DOUBLE / (da.d + db.d - common), 6) + 0.0 AS jaccard
         FROM p JOIN sd da ON da.a = p.a JOIN sd db ON db.a = p.b
         ORDER BY p.a, p.b"""),

    // ---- degree assortativity of the supplier-part graph (GraphFeatures) --
    // integer-exact endpoint-degree correlation over the distinct edges
    QuerySpec("q314_assortativity", ((s, dir) => {
      val edges = read(s, dir, "lineitem")
        .select(col("l_suppkey").as("supp"), col("l_partkey").as("part"))
      graft.operators.GraphFeatures
        .degreeAssortativity(edges, "supp", "part", directed = true)
        .select(col("n_edges"), col("n_src"), col("n_dst"),
          (round(col("assortativity"), 6) + lit(0.0)).as("assortativity"))
    }),
      // endpoint-degree Pearson over the distinct directed edge list;
      // integer moments are exact on both engines
      """WITH e AS (SELECT DISTINCT l_suppkey u, l_partkey v FROM lineitem
                WHERE l_suppkey IS NOT NULL AND l_partkey IS NOT NULL),
         du AS (SELECT u, count(*)::DOUBLE d FROM e GROUP BY 1),
         dv AS (SELECT v, count(*)::DOUBLE d FROM e GROUP BY 1),
         j AS (SELECT du.d x, dv.d y FROM e
               JOIN du ON du.u = e.u JOIN dv ON dv.v = e.v),
         m AS (SELECT count(*)::BIGINT n, sum(x) sx, sum(y) sy,
                 sum(x * x) sxx, sum(y * y) syy, sum(x * y) sxy FROM j),
         nn AS (SELECT count(DISTINCT u)::BIGINT n_src,
                 count(DISTINCT v)::BIGINT n_dst FROM e)
         SELECT n AS n_edges, n_src, n_dst,
           CASE WHEN n * sxx - sx * sx > 0 AND n * syy - sy * sy > 0
             THEN round((n * sxy - sx * sy)
               / sqrt((n * sxx - sx * sx) * (n * syy - sy * sy)), 6) + 0.0
             END AS assortativity
         FROM m, nn"""),

    // ---- 32-core of the supplier-part graph: the dense trading nucleus ----
    // iterative peeling on the prefixed bipartite graph; the fringe
    // (thin parts) strips away and drags weakly-attached rounds with it
    // until every survivor keeps >= 32 in-core connections
    QuerySpec("q395_kcore", ((s, dir) => {
      val edges = read(s, dir, "lineitem")
        .select(concat(lit("s"), col("l_suppkey").cast("string")).as("src"),
          concat(lit("p"), col("l_partkey").cast("string")).as("dst"))
      graft.operators.GraphFeatures.kCore(edges, "src", "dst", k = 32)
        .select(col("node"), col("degree"))
        .gateOrdered(col("node"))
    }), {
      // 8 statically-unrolled MATERIALIZED peel rounds (>= the measured
      // fixpoint depth; extra rounds are idempotent on the fixed point),
      // then in-core degrees from the surviving subgraph
      val rounds = (1 to 8).map(i =>
        s"""a$i AS MATERIALIZED (SELECT s.a node FROM sym s
               JOIN a${i - 1} x ON s.a = x.node
               JOIN a${i - 1} y ON s.b = y.node
               GROUP BY s.a HAVING count(*) >= 32)""").mkString(",\n         ")
      s"""WITH e AS MATERIALIZED (SELECT DISTINCT
                 's' || l_suppkey a, 'p' || l_partkey b FROM lineitem),
         sym AS MATERIALIZED (SELECT a, b FROM e
               UNION SELECT b, a FROM e),
         a0 AS MATERIALIZED (SELECT DISTINCT a node FROM sym),
         $rounds
         SELECT s.a AS node, count(*)::BIGINT AS degree
         FROM sym s JOIN a8 x ON s.a = x.node JOIN a8 y ON s.b = y.node
         GROUP BY s.a ORDER BY node"""
    }))

  /** q180 oracle: PageRank replayed iteration-by-iteration — symmetric
    * exact-Jaccard edges (the LSH net is 100%-recall on this corpus, the
    * q127 precedent), decimal-exact contribution sums, constants written
    * as the same literal expressions the Scala side evaluates
    * ((1.0-0.85)/n, 1.0/n), 12-dp inter-iteration rounding. */
  private def pageRankSql(iterations: Int): String = {
    val iterCtes = (1 to iterations).map { i =>
      val prev = if (i == 1) "r0" else s"r${i - 1}"
      s"""c$i AS (SELECT e.dst AS id,
             CAST(sum(($prev.rank/deg.deg)::DECIMAL(28,18)) AS DOUBLE) AS s
           FROM e JOIN $prev ON $prev.id = e.src JOIN deg ON deg.src = e.src
           GROUP BY e.dst),
         r$i AS (SELECT vtx.id,
             round((1.0-0.85)/(SELECT n FROM nv) + 0.85*coalesce(c$i.s, 0.0), 12) AS rank
           FROM vtx LEFT JOIN c$i USING (id))"""
    }.mkString(",\n         ")
    s"""WITH pairs AS (${jaccardPairsSql(0.7)}),
         e AS (SELECT id_a AS src, id_b AS dst FROM pairs
               UNION SELECT id_b, id_a FROM pairs),
         vtx AS (SELECT doc_id AS id FROM documents),
         nv AS (SELECT count(*)::BIGINT AS n FROM vtx),
         deg AS (SELECT src, count(*)::BIGINT AS deg FROM e GROUP BY src),
         r0 AS (SELECT id, 1.0/(SELECT n FROM nv) AS rank FROM vtx),
         $iterCtes
         SELECT id AS doc_id, round(rank, 6) AS rank FROM r$iterations
         ORDER BY doc_id"""
  }
}
