package graft
package gates

import graft.Queries._
import graft.ext.{Similarity, TextAnalysis}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/**
 * Vector similarity search, clustering and ANN indexes (`sim_*`).
 */
object SimilarityGates {

  /** Per-process persisted IVF index stores for the `sim_ann_*` gates
    * (exactly the [[bm25FullIndexDir]] pattern, applied to the vector
    * member of the persisted-index family): the build is
    * corpus-deterministic certification/index cost that amortizes in
    * production; the search gates consume the store READ-ONLY, and the
    * grow gate copies the base tree before appending. */
  private def ivfBaseIndex(kind: String): Fixture[String] =
    Fixture(s"ivf:$kind") { (s, d) =>
      val dir = graft.io.TempDirs.create(s"graft-ivf-$kind-base").toString
      val store = new graft.store.TableStore(s, dir)
      val e = emb(s, d)
      kind match {
        case "plain" =>
          Similarity.buildIndex(store, "ivf_idx", e, "vec_id", "embedding", nlist = 16)
        case "sq" =>
          Similarity.buildIndexQuantized(store, "ivf_sq", e, "vec_id", "embedding", nlist = 16)
        case "rr" =>
          Similarity.buildIndexQuantized(store, "ivf_rr", e, "vec_id", "embedding", nlist = 16)
        case "grow" =>
          Similarity.buildIndex(store, "ivf_g", e.filter(col("vec_id") < 300),
            "vec_id", "embedding", nlist = 16)
        case other => throw new IllegalArgumentException(s"unknown ivf fixture kind: $other")
      }
      dir
    }

  private val ivfPlainIndexDir = ivfBaseIndex("plain")
  private val ivfSqIndexDir = ivfBaseIndex("sq")
  private val ivfRerankIndexDir = ivfBaseIndex("rr")
  private val ivfGrowIndexDir = ivfBaseIndex("grow")

  private val ndcgSql: String = {
    val (w, i) = graft.ext.Similarity.ndcgWeights(10)
    val wLit = w.mkString("[", ", ", "]")
    val iLit = i.mkString("[", ", ", "]")
    s"""WITH q AS (SELECT vec_id AS query_id, label AS qlabel, embedding
       |             FROM embeddings WHERE vec_id < 20),
       |sc AS (SELECT q.query_id, q.qlabel, c.vec_id AS neighbor_id,
       |              list_cosine_similarity(q.embedding::DOUBLE[], c.embedding::DOUBLE[]) AS cos,
       |              CASE WHEN c.label = q.qlabel THEN 1 ELSE 0 END AS rel
       |         FROM q JOIN embeddings c ON q.query_id <> c.vec_id),
       |top AS (SELECT query_id, qlabel, rel,
       |               row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rnk
       |          FROM sc QUALIFY rnk <= 10),
       |d AS (SELECT query_id, qlabel,
       |             sum(CAST(rel AS DOUBLE) * ($wLit)[rnk]) AS dcg
       |        FROM top GROUP BY 1, 2),
       |lc AS (SELECT label AS qlabel, count(*) AS lcnt FROM embeddings GROUP BY 1)
       |SELECT query_id,
       |       round(CASE WHEN lcnt > 1 THEN dcg / ($iLit)[CAST(LEAST(lcnt - 1, 10) AS INT)] END, 6) AS ndcg
       |  FROM d JOIN lc USING (qlabel)""".stripMargin
  }

  private val bruteForceTopKSql =
    """SELECT query_id, neighbor_id FROM (
      |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
      |         row_number() OVER (PARTITION BY q.vec_id
      |             ORDER BY list_cosine_similarity(q.embedding::DOUBLE[], c.embedding::DOUBLE[]) DESC,
      |                      c.vec_id) AS rn
      |    FROM embeddings q JOIN embeddings c ON q.vec_id <> c.vec_id
      |   WHERE q.vec_id < 10) x
      | WHERE rn <= 5""".stripMargin

  private def kmeansSql(k: Int, iters: Int, scale: Int): String = {
    val (ctes, af) = kmeansCtes(k, iters, scale)
    s"$ctes\nSELECT vec_id, CAST(c AS BIGINT) AS cluster FROM $af"
  }

  /** `sim_cluster_keywords` oracle: the k-means rounds, then cluster-level
    * TF-IDF (tf × ln(n_clusters / cluster_freq), round 6) with the
    * (score DESC, token) per-cluster total order — the identical
    * derivation over the identical assignment. */
  private def clusterKeywordsSql(k: Int, iters: Int, scale: Int): String = {
    val (ctes, af) = kmeansCtes(k, iters, scale)
    s"""$ctes,
       |ct AS (SELECT CAST($af.c AS BIGINT) AS cluster, tok AS token, count(*) AS tf
       |         FROM (SELECT doc_id, unnest(regexp_split_to_array(text, '\\s+')) AS tok
       |                 FROM documents WHERE text IS NOT NULL) t
       |         JOIN $af ON t.doc_id = $af.vec_id
       |        GROUP BY 1, 2),
       |cf AS (SELECT token, count(*) AS cluster_freq FROM ct GROUP BY token),
       |ncl AS (SELECT count(DISTINCT cluster) AS nc FROM ct),
       |sck AS (SELECT ct.cluster, ct.token, ct.tf, cf.cluster_freq,
       |              round(CAST(ct.tf AS DOUBLE)
       |                    * ln(CAST(nc AS DOUBLE) / CAST(cf.cluster_freq AS DOUBLE)), 6) AS score
       |         FROM ct JOIN cf USING (token), ncl),
       |rkk AS (SELECT *, row_number() OVER (PARTITION BY cluster
       |               ORDER BY score DESC, token) AS rank FROM sck)
       |SELECT cluster, CAST(rank AS BIGINT) AS rank, token, tf, cluster_freq, score
       |  FROM rkk WHERE rank <= 3""".stripMargin
  }

  /** `sim_prototype_prune` oracle: the k-means rounds, the assigned
    * cluster's cost recomputed against the FINAL centroid table (equal to
    * the engine's `array_min` over the rounded cost vector, because the
    * assignment IS the argmin), and the per-cluster `quantile_cont` keep
    * threshold with a `cost >= th` value predicate. */
  private def prototypePruneSql(k: Int, iters: Int, scale: Int, q: String): String = {
    val (ctes, af) = kmeansCtes(k, iters, scale)
    s"""$ctes,
       |pc AS (SELECT $af.vec_id, CAST($af.c AS BIGINT) AS cluster,
       |              round(list_sum(list_transform(p.v, x -> x * x))
       |                    - list_dot_product(e.v, p.v) * 2.0, $scale) AS proto_cost
       |         FROM $af JOIN e USING (vec_id) JOIN c$iters p ON $af.c = p.c),
       |thr AS (SELECT cluster, quantile_cont(proto_cost, $q) AS th
       |          FROM pc GROUP BY cluster)
       |SELECT pc.vec_id, pc.cluster, pc.proto_cost
       |  FROM pc JOIN thr USING (cluster)
       | WHERE pc.proto_cost >= thr.th""".stripMargin
  }

  val gates: Seq[Gate] = Seq(
    // ---- similarity search (§2.12) ----
    Gate("sim_topk", ((s, d) => {
      val e = emb(s, d)
      Similarity.topK(e, e.filter(col("vec_id") < 10), "vec_id", "embedding", 5)
    }),
      bruteForceTopKSql),
    // retrieval-eval harness: NDCG@10 per query with label relevance over
    // the exact brute-force ranking — the embedding-space quality metric;
    // discount weights and IDCG prefix sums are JVM-computed literals
    // shared verbatim with the oracle (no transcendental re-derivation)
    Gate("sim_retrieval_ndcg", ((s, d) => {
      val e = emb(s, d)
      Similarity.retrievalNdcg(e, e.filter(col("vec_id") < 20),
          "vec_id", "embedding", "label", 10)
        .select(col("query_id"), round(col("ndcg"), 6).as("ndcg"))
    }),
      ndcgSql),
    // margin-based bitext mining (LASER/CCMatrix): mutual-NN pairs across
    // an even/odd split of the embedding corpus (the two "languages"),
    // ratio-margin scored over top-4 neighborhood means — the hub-robust
    // criterion for mining aligned translation pairs; the means sum exact
    // integer micro-cosines so no accumulation order can flap the gate
    // SIZE-ROUTED (r17 verdict): the exact |A|×|B| grid at gate scale —
    // the oracle's regime, same code path — and the IVF-pooled CCMatrix
    // composition (4√n-list quantizer, fixed nprobe=32 — the measured
    // r20 frontier winner, see bitextMarginMineRouted) past 20 k vectors
    Gate("sim_bitext_margin", ((s, d) => {
      val e = emb(s, d)
      Similarity.bitextMarginMineRouted(
        e.filter(col("vec_id") % 2 === 0), e.filter(col("vec_id") % 2 === 1),
        "vec_id", "embedding", k = 4)
    }),
      // RRF re-derived: the bm25 CTEs with a 50-pool cut, the cosine pool
      """WITH av AS (SELECT vec_id AS a_id, embedding::DOUBLE[] AS v
        |              FROM embeddings WHERE vec_id % 2 = 0),
        |bv AS (SELECT vec_id AS b_id, embedding::DOUBLE[] AS v
        |         FROM embeddings WHERE vec_id % 2 = 1),
        |c AS (SELECT a_id, b_id, list_cosine_similarity(av.v, bv.v) AS cos FROM av, bv),
        |r AS (SELECT a_id, b_id, cos,
        |             row_number() OVER (PARTITION BY a_id ORDER BY cos DESC, b_id) AS rn_a,
        |             row_number() OVER (PARTITION BY b_id ORDER BY cos DESC, a_id) AS rn_b
        |        FROM c),
        |da AS (SELECT a_id, sum(CAST(round(cos * 1000000.0) AS BIGINT)) AS ma
        |         FROM r WHERE rn_a <= 4 GROUP BY 1),
        |db AS (SELECT b_id, sum(CAST(round(cos * 1000000.0) AS BIGINT)) AS mb
        |         FROM r WHERE rn_b <= 4 GROUP BY 1)
        |SELECT r.a_id, r.b_id,
        |       round(round(cos, 6) * 8000000.0 / CAST(ma + mb AS DOUBLE), 6) AS margin
        |  FROM r JOIN da ON r.a_id = da.a_id JOIN db ON r.b_id = db.b_id
        | WHERE rn_a = 1 AND rn_b = 1
        | ORDER BY margin DESC, r.a_id""".stripMargin),
    // hybrid retrieval: a BM25 pool and a cosine pool fused by reciprocal
    // rank (Σ 1/(60+r)) — the RAG-era lexical+vector standard; both pools
    // rank by ROUNDED score with id tiebreak so the fused set is
    // engine-independent, and ids link documents ↔ embeddings
    Gate("sim_rrf_fusion", ((s, d) =>
      Similarity.hybridRrf(docs(s, d), emb(s, d), "fast hash join", 0L)),
      // against the vec_id=0 query row, both ranked by (rounded score, id),
      // fused as CAST(1.0 AS DOUBLE)/(60+rank) sums over a full outer join
      s"""WITH $bm25Ctes,
        |lp AS (SELECT doc_id, round(sum(s), 6) AS score
        |         FROM sc GROUP BY doc_id
        |        ORDER BY score DESC, doc_id LIMIT 50),
        |lex AS (SELECT CAST(doc_id AS BIGINT) AS id,
        |               row_number() OVER (ORDER BY score DESC, doc_id) AS lex_rank
        |          FROM lp),
        |vq AS (SELECT embedding FROM embeddings WHERE vec_id = 0),
        |vs AS (SELECT CAST(c.vec_id AS BIGINT) AS id,
        |              round(list_cosine_similarity(c.embedding::DOUBLE[],
        |                                           vq.embedding::DOUBLE[]), 6) AS cs
        |         FROM embeddings c, vq WHERE c.vec_id <> 0),
        |vp AS (SELECT id, cs FROM vs ORDER BY cs DESC, id LIMIT 50),
        |vec AS (SELECT id, row_number() OVER (ORDER BY cs DESC, id) AS vec_rank FROM vp)
        |SELECT coalesce(lex.id, vec.id) AS id, lex.lex_rank, vec.vec_rank,
        |       coalesce(CAST(1.0 AS DOUBLE) / (60 + lex.lex_rank), CAST(0.0 AS DOUBLE)) +
        |       coalesce(CAST(1.0 AS DOUBLE) / (60 + vec.vec_rank), CAST(0.0 AS DOUBLE)) AS rrf
        |  FROM lex FULL JOIN vec ON lex.id = vec.id
        | ORDER BY rrf DESC, id LIMIT 20""".stripMargin),
    // distributed Lloyd's k-means (3 recenter rounds + final assignment) —
    // the cluster structure behind SemDeDup-style pruning and
    // cluster-balanced sampling; every round is one codegen'd assignment
    // map + one partial-aggregating recenter, k*dim doubles to the driver.
    // Oracle unrolls the identical rounds as chained CTEs (kmeansSql).
    Gate("sim_kmeans_clusters", ((s, d) =>
      ext.Clustering.kmeansAssign(emb(s, d), "vec_id", "embedding", k = 8, iters = 3)),
      kmeansSql(8, 3, 6)),
    // cluster topic labeling (r18): name every k-means cluster by its most
    // DISTINCTIVE terms — per-cluster term counts × ln(n_clusters /
    // cluster_freq), the cluster-level TF-IDF — the "what is this cluster"
    // audit between clustering and mixture/pruning decisions (SemDeDup
    // §4-style cluster inspection at corpus scale). Scale shape: token
    // counts partial-aggregate straight to the (cluster, token) frame
    // (vocab×k-bounded, NEVER corpus-sized past the first combine), the
    // cluster-frequency frame is vocab-sized and broadcasts, and the
    // per-cluster top-3 window sorts vocab-bounded partitions
    Gate("sim_cluster_keywords", ((s, d) => {
      val assign = ext.Clustering.kmeansAssign(emb(s, d), "vec_id", "embedding",
        k = 8, iters = 3)
      // tracked: the vocab×k count frame feeds the score join, the
      // cluster-frequency agg, AND the distinct-cluster scalar — three
      // consumers (released by Caches.unpersistAll)
      val ct = graft.ext.Caches.track(docs(s, d).filter(col("text").isNotNull)
        .select(col("doc_id").as("vec_id"),
          explode(TextAnalysis.tokens(col("text"))).as("token"))
        .join(assign, Seq("vec_id"))
        .groupBy("cluster", "token").agg(count(lit(1)).as("tf")))
      val cf = ct.groupBy("token").agg(count(lit(1)).as("cluster_freq"))
      val nc = ct.select(countDistinct("cluster").as("nc"))
      val w = Window.partitionBy("cluster").orderBy(col("score").desc, col("token"))
      ct.join(broadcast(cf), Seq("token")).crossJoin(broadcast(nc))
        .withColumn("score", round(col("tf").cast("double") *
          log(col("nc").cast("double") / col("cluster_freq").cast("double")), 6))
        .withColumn("rank", row_number().over(w).cast("long"))
        .filter(col("rank") <= 3)
        .select(col("cluster"), col("rank"), col("token"),
          col("tf"), col("cluster_freq"), col("score"))
    }),
      clusterKeywordsSql(8, 3, 6)),
    // supervised nearest-centroid (Rocchio) confusion matrix — the
    // embedding-space separability eval: per-label rounded mean centroids,
    // every vector re-assigned by the kmeans cost recipe, (label,
    // predicted) counts out; label-sorted centroid rows make the
    // first-min tie-break ≡ ORDER BY cost, label
    Gate("sim_centroid_confusion", ((s, d) =>
      ext.Clustering.nearestLabelCentroid(emb(s, d), "vec_id", "embedding", "label")
        .groupBy("label", "predicted").agg(count(lit(1)).as("n"))),
      // per-label rounded mean centroids + the kmeans assignment recipe
      // (round(|c|²−2·v·c, 6) argmin, ties to the lowest label)
      """WITH e AS MATERIALIZED (SELECT vec_id, label, embedding::DOUBLE[] AS v
        |       FROM embeddings WHERE embedding IS NOT NULL AND label IS NOT NULL),
        |m AS (SELECT label AS c, u.idx, round(avg(u.x), 6) AS m
        |        FROM (SELECT label, unnest(v) AS x,
        |                     generate_subscripts(v, 1) AS idx FROM e) u
        |       GROUP BY 1, 2),
        |cent AS MATERIALIZED (SELECT c, list(m ORDER BY idx) AS v FROM m GROUP BY c),
        |a AS (SELECT vec_id, label, c AS predicted FROM (
        |  SELECT e.vec_id, e.label, p.c,
        |         row_number() OVER (PARTITION BY e.vec_id ORDER BY
        |           round(list_sum(list_transform(p.v, x -> x * x))
        |                 - list_dot_product(e.v, p.v) * 2.0, 6), p.c) AS rn
        |    FROM e CROSS JOIN cent p) t WHERE rn = 1)
        |SELECT label, predicted, count(*) AS n FROM a GROUP BY 1, 2""".stripMargin),
    // SSL-prototypes / D4 pruning (Sorscher et al. 2022; Abbas et al.
    // 2023): drop the most prototypical quarter of every k-means cluster —
    // points nearest their centroid carry the least marginal information
    // once the cluster is represented; keepFraction's complement (0.25) is
    // binary-exact so both engines cut at the identical quantile
    Gate("sim_prototype_prune", ((s, d) =>
      ext.Clustering.prototypePrune(emb(s, d), "vec_id", "embedding",
        k = 8, iters = 3, keepFraction = 0.75)),
      prototypePruneSql(8, 3, 6, "0.25")),
    // gated at nprobe = nlist: full-probe IVF is EXACTLY brute force (every
    // list is scanned), so the brute-force top-k oracle applies and the whole
    // IVF plan (quantizer training, list assignment, probe join, re-rank) is
    // driver-hash-checked. The approximate operating point (nprobe < nlist)
    // is covered by the recall bound in SimilaritySpec.
    Gate("sim_ann_ivf", ((s, d) => {
      val e = emb(s, d)
      Similarity.annTopK(e, e.filter(col("vec_id") < 10), "vec_id", "embedding", 5,
        nlist = 16, nprobe = 16)
    }),
      bruteForceTopKSql), // full-probe IVF ≡ brute force (see queries)
    // the PERSISTED index path at the same exact operating point: build the
    // index into a temp TableStore, reload the quantizer from storage (not
    // the in-memory handle), search at full probe ≡ brute force — gating
    // build, persist, reload, list-pruned scan, and probe re-rank end-to-end
    Gate("sim_ann_ivf_persisted", ((s, d) => {
      // index store from the per-JVM fixture cache (r20 wave 2, the
      // bm25FullIndexDir pattern): the build amortizes in production; the
      // gate measures the steady state — quantizer reload from storage +
      // the list-pruned probe — consumed READ-ONLY, hash-checked whole
      val store = new graft.store.TableStore(s, ivfPlainIndexDir(s, d))
      val idx = Similarity.loadIndex(store, "ivf_idx")
      Similarity.searchIndex(store, idx, emb(s, d).filter(col("vec_id") < 10),
        "vec_id", "embedding", 5, nprobe = 16)
    }),
      bruteForceTopKSql, // persisted index, same exact point
      fixtures = Seq(ivfPlainIndexDir)),
    // IVF+SQ: the quantized-payload index (4x less probe IO at real widths),
    // ranked by the dequantized dot — searched at the exact full-probe
    // point, gated against DuckDB reproducing the identical quantization
    // (unit-normalize -> scale=127/max|x| -> floor(x*scale+0.5)) and ranking
    Gate("sim_ann_ivf_sq", ((s, d) => {
      // quantized index store from the per-JVM fixture cache (see
      // sim_ann_ivf_persisted) — reload + quantized probe, READ-ONLY
      val store = new graft.store.TableStore(s, ivfSqIndexDir(s, d))
      val idx = Similarity.loadIndex(store, "ivf_sq")
      Similarity.searchIndexQuantized(store, idx, emb(s, d).filter(col("vec_id") < 10),
        "vec_id", "embedding", 5, nprobe = 16)
    }),
      // IVF+SQ at full probe: DuckDB re-derives the identical int8 payload
      // (same unit-norm, same 127/max|x| scale, same floor(x*scale+0.5)) and
      // ranks by the same dequantized dot, ties by neighbor id
      """WITH u AS (SELECT vec_id,
        |       list_transform(embedding::DOUBLE[], x ->
        |         x / sqrt(list_sum(list_transform(embedding::DOUBLE[], y -> y*y)))) AS v
        |     FROM embeddings),
        |q8 AS (SELECT vec_id, v, CASE WHEN m > 0 THEN 127.0 / m ELSE 0.0 END AS scale
        |       FROM (SELECT vec_id, v, list_max(list_transform(v, x -> abs(x))) AS m FROM u) t),
        |qv AS (SELECT vec_id, scale, list_transform(v, x -> floor(x * scale + 0.5)) AS q FROM q8),
        |sc AS (SELECT uq.vec_id AS query_id, c.vec_id AS neighbor_id,
        |              CASE WHEN c.scale > 0 THEN list_inner_product(uq.v, c.q) / c.scale
        |                   ELSE 0.0 END AS cos
        |         FROM u uq JOIN qv c ON uq.vec_id <> c.vec_id
        |        WHERE uq.vec_id < 10)
        |SELECT query_id, neighbor_id FROM (
        |  SELECT query_id, neighbor_id,
        |         row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rn
        |    FROM sc) x WHERE rn <= 5""".stripMargin,
      fixtures = Seq(ivfSqIndexDir)),
    // two-stage retrieval: int8-SQ first stage -> exact float re-rank of a
    // 4k candidate pool. Gated at full probe, where the pool provably
    // contains the true top-k on this fixture, so the composed pipeline
    // (SQ probe + keyed float fetch + exact re-rank) must equal brute force
    // exactly; the partial-probe benefit (re-rank recovering the int8
    // recall tax at nprobe=4) is pinned by SimilaritySpec and measured in
    // BASELINE.md, "partial-probe recall curves, IVF index family"
    Gate("sim_ann_rerank", ((s, d) => {
      // quantized index store from the per-JVM fixture cache (see
      // sim_ann_ivf_persisted) — the two-stage probe runs fresh, READ-ONLY
      val store = new graft.store.TableStore(s, ivfRerankIndexDir(s, d))
      val e = emb(s, d)
      val idx = Similarity.loadIndex(store, "ivf_rr")
      Similarity.searchIndexRerank(store, idx, e, e.filter(col("vec_id") < 10),
        "vec_id", "embedding", 5, nprobe = 16)
    }),
      bruteForceTopKSql, // SQ stage-1 + float re-rank, full probe
      fixtures = Seq(ivfRerankIndexDir)),
    // the growing-index ANN loop: index built on vectors < 300, the rest
    // appended via appendToIndex (assigned by the STORED quantizer, corpus
    // appended as its own generation). Searched at the exact full-probe
    // point, so the result must equal the brute-force oracle over the WHOLE
    // corpus — 24 of the 50 expected rows are appended vectors, so a lost
    // or mis-assigned append hash-fails
    Gate("sim_ann_ivf_persisted_grow", ((s, d) => {
      // base index (vectors < 300) from the per-JVM fixture cache, COPIED
      // to a fresh dir (the bm25BaseIndexDir.storeCopy pattern); the GROW leg — stored-
      // quantizer assignment + append + full-probe search — is the
      // operator this gate certifies and runs fresh on every invocation
      val store = ivfGrowIndexDir.storeCopy(s, d, "graft-ivf-grow")
      val e = emb(s, d)
      val idx = Similarity.loadIndex(store, "ivf_g")
      Similarity.appendToIndex(store, idx, e.filter(col("vec_id") >= 300),
        "vec_id", "embedding")
      Similarity.searchIndex(store, idx, e.filter(col("vec_id") < 10),
        "vec_id", "embedding", 5, nprobe = 16)
    }),
      bruteForceTopKSql, // grown index, same exact point
      fixtures = Seq(ivfGrowIndexDir)),
    // int8 scalar quantization, posexploded to scalar rows for the gate
    Gate("sim_quantize_int8", ((s, d) =>
      Similarity.quantizeInt8(emb(s, d), "vec_id", "embedding")
        .select(col("vec_id"), col("scale"), posexplode(col("qvec")))
        .select(col("vec_id"), col("scale"), col("pos").cast("long").as("idx"),
          col("col").as("q"))),
      """SELECT vec_id, scale, CAST(idx - 1 AS BIGINT) AS idx,
        |       CAST(floor(val * scale + 0.5) AS BIGINT) AS q
        |  FROM (SELECT vec_id,
        |               CASE WHEN m > 0 THEN 127.0 / m ELSE 0.0 END AS scale, val, idx
        |          FROM (SELECT vec_id,
        |                       list_max(list_transform(embedding::DOUBLE[], x -> abs(x))) AS m,
        |                       unnest(embedding::DOUBLE[]) AS val,
        |                       generate_subscripts(embedding, 1) AS idx
        |                  FROM embeddings) t) s""".stripMargin),
    // k-NN majority-vote classification: exact cosine top-5 votes with
    // the (votes DESC, label ASC) deterministic tie-break
    Gate("sim_knn_classify", ((s, d) => {
      val e = emb(s, d)
      Similarity.knnClassify(e, e.filter(col("vec_id") < 20),
        "vec_id", "embedding", "label", 5)
    }),
      // exact top-5 votes, (votes DESC, label ASC) pick — the ndcg CTE shape
      """WITH q AS (SELECT vec_id AS query_id, label AS gold, embedding
        |             FROM embeddings WHERE vec_id < 20),
        |sc AS (SELECT q.query_id, q.gold, c.vec_id AS neighbor_id, c.label AS clabel,
        |              list_cosine_similarity(q.embedding::DOUBLE[], c.embedding::DOUBLE[]) AS cos
        |         FROM q JOIN embeddings c ON q.query_id <> c.vec_id),
        |top AS (SELECT query_id, gold, clabel,
        |               row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rnk
        |          FROM sc QUALIFY rnk <= 5),
        |v AS (SELECT query_id, gold, clabel, count(*) AS votes
        |        FROM top GROUP BY 1, 2, 3)
        |SELECT query_id, gold, clabel AS predicted, votes, clabel = gold AS correct
        |  FROM v QUALIFY row_number() OVER (PARTITION BY query_id
        |        ORDER BY votes DESC, clabel) = 1""".stripMargin),
    // MRR@10 beside NDCG@10: reciprocal rank of each query's FIRST
    // same-label neighbor in the same cosine ranking (0 when none ranks)
    Gate("sim_retrieval_mrr", ((s, d) => {
      val e = emb(s, d)
      Similarity.retrievalMrr(e, e.filter(col("vec_id") < 20),
        "vec_id", "embedding", "label", 10)
    }),
      // first same-label hit in the shared ndcg ranking CTEs → 1/rank
      """WITH q AS (SELECT vec_id AS query_id, label AS qlabel, embedding
        |             FROM embeddings WHERE vec_id < 20),
        |sc AS (SELECT q.query_id, c.vec_id AS neighbor_id,
        |              list_cosine_similarity(q.embedding::DOUBLE[], c.embedding::DOUBLE[]) AS cos,
        |              CASE WHEN c.label = q.qlabel THEN 1 ELSE 0 END AS rel
        |         FROM q JOIN embeddings c ON q.query_id <> c.vec_id),
        |top AS (SELECT query_id, rel,
        |               row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rnk
        |          FROM sc QUALIFY rnk <= 10),
        |fr AS (SELECT query_id, min(rnk) AS r FROM top WHERE rel = 1 GROUP BY 1)
        |SELECT q.query_id, coalesce(round(1.0 / r, 6), 0.0) AS rr
        |  FROM q LEFT JOIN fr USING (query_id)""".stripMargin)
  )
}
