package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ByteType, DataType, IntegerType, LongType, ShortType}

/**
 * Similarity search over embedding columns (`array<float>`, SURVEY.md §2.12):
 * brute-force cosine top-k as the exact baseline, and IVF (inverted-file
 * with a sampled spherical-k-means coarse quantizer) as the scale path.
 *
 * All pairwise math runs through the native codegen'd `vector_dot`
 * expression — no UDFs, no MLlib dependency — and vectors are unit-
 * normalized once per row so similarity is a single dot product per pair.
 */
object Similarity {

  import org.apache.spark.sql.graftx.VectorFunctions.vec_dot

  /** Dot product of two `array<double>` columns — a codegen'd native
    * Catalyst expression ([[org.apache.spark.sql.graftx.VectorDot]]); the interpreted
    * `aggregate(zip_with(...))` equivalent is ~40× slower on pair scans. */
  def dot(a: Column, b: Column): Column = vec_dot(a, b)

  def norm(v: Column): Column = sqrt(dot(v, v))

  /** Cosine similarity of two raw (unnormalized) double vectors. */
  def cosine(a: Column, b: Column): Column = dot(a, b) / (norm(a) * norm(b))

  /** Cast an `array<float>` embedding to `array<double>` for exact math. */
  def asDouble(v: Column): Column = v.cast("array<double>")

  /**
   * Appends a deterministic near-duplicate companion for every `every`-th
   * row: id `-(id+1)` (disjoint from any non-negative corpus id), vector =
   * the original with per-component multiplicative jitter
   * `x * (1 + eps * sin((i+1) * 2.39996))`. With `|d_i| <= eps` the pair's
   * cosine is bounded below by `(1-eps)/(1+eps)` — at the default
   * `eps = 0.002` that is ≥ 0.996, and the realized value is ~1−2e−6, so
   * every planted pair sits in the cos ≥ 0.99 near-dup band where the
   * [[cosinePairsLsh]] 12×12 band curve puts collision probability at ~1.
   *
   * This is recall-contract INSTRUMENTATION, not data cleaning: the test
   * fixtures contain no cos ≥ 0.99 pairs (max pairwise ≈ 0.51), so the
   * "full recall on near-dups" half of the LSH contract is unfalsifiable on
   * raw fixtures. Gates and specs plant pairs in-query (the corpus is never
   * mutated on disk) so the recall branch can actually fail. Jitter moves
   * any existing pair's angle by ≤ ~eps rad, which at the fixtures' ≤ 0.52
   * ceiling cannot promote a non-planted pair into the 0.99 band.
   */
  def plantNearDups(df: DataFrame, idCol: String, vecCol: String,
      every: Int = 50, eps: Double = 0.002): DataFrame = {
    require(every > 0 && eps > 0 && eps < 0.005,
      s"plantNearDups: every must be positive, eps in (0, 0.005): $every / $eps")
    val companions = df.filter(pmod(col(idCol), lit(every.toLong)) === 0)
      .withColumn(idCol, -(col(idCol) + lit(1L)))
      .withColumn(vecCol,
        transform(col(vecCol), (x, i) =>
          (x.cast("double") * (lit(1.0) +
            lit(eps) * sin((i + 1).cast("double") * lit(2.39996))))
            .cast("float")))
    df.unionByName(companions)
  }

  /**
   * Plant a DENSE moderate-similarity cluster: `m` deterministic
   * multiplicative perturbations of the corpus's minimum-id vector at
   * relative magnitude `mag` (pairwise cosine lands around
   * `1/(1+mag²·0.5)` — ~0.9 at the default, far below the near-dup band
   * but far above random), appended with ids `-1000001, -1000002, …` (no
   * overlap with [[plantNearDups]]' `-(id+1)` companions). This is the
   * fixture generator for the auto-sharpen certification gate: a cluster
   * like this packs enough moderately-similar vectors into the 12×12
   * band buckets to blow a small pair budget at the caller's shape,
   * forcing [[cosinePairsLsh]]'s escalation ladder to engage.
   */
  def plantDenseCluster(df: DataFrame, idCol: String, vecCol: String,
      m: Int = 80, mag: Double = 0.45): DataFrame = {
    require(m > 0 && mag > 0, s"plantDenseCluster: m/mag must be positive: $m / $mag")
    val base = broadcast(df.orderBy(col(idCol)).limit(1).select(col(vecCol).as("__b")))
    val planted = df.sparkSession.range(m.toLong)
      .select((lit(-1000001L) - col("id")).as(idCol), col("id").as("__i"))
      .crossJoin(base)
      .select(col(idCol), transform(col("__b"), (x, j) =>
        (x.cast("double") * (lit(1.0) + lit(mag) *
          sin((j + 1).cast("double") * (col("__i") + lit(7)).cast("double") * lit(2.39996))))
          .cast("float")).as(vecCol))
    df.select(col(idCol), col(vecCol)).unionByName(planted)
  }

  /** Project `(idAs, unit-normalized vector)` — normalization happens ONCE
    * per row here so pairwise similarity later is a single dot product.
    * Zero-norm vectors (padding/failure artifacts) normalize to all-zeros
    * instead of NaN: NaN would sort ABOVE every real similarity under the
    * `cos DESC` top-k ordering and poison every query's neighbors; a zero
    * vector instead scores 0 against everything and never ranks.
    *
    * One codegen'd [[org.apache.spark.sql.graftx.VectorNormalize]] call —
    * the previous cast + `transform(x -> x / norm)` composition contained a
    * higher-order lambda, which has NO codegen and dragged the whole
    * projection (cast included) into interpreted eval: measured as the
    * dominant cost of the dim-1024 IVF path (BASELINE.md, "Round-6
    * similarity-path codegen fix": 100-query ANN 380 s → 2.2 s). Arithmetic is
    * identical (in-order Σx², per-element divide), so gated results are
    * bit-unchanged. */
  private def unitized(df: DataFrame, idCol: String, vecCol: String,
      idAs: String, vecAs: String): DataFrame = {
    import org.apache.spark.sql.graftx.VectorFunctions.vec_normalize
    df.select(col(idCol).as(idAs), vec_normalize(col(vecCol)).as(vecAs))
  }

  /**
   * Exact brute-force top-k: for each query vector, the `k` nearest corpus
   * vectors by cosine (self-matches excluded, ties broken by corpus id) —
   * [[scoredGrid]] ranked by [[topKPerQuery]]. Ids must be integral and
   * `k >= 1`; anything else is refused by name.
   */
  def topK(corpus: DataFrame, queries: DataFrame, idCol: String, vecCol: String, k: Int): DataFrame = {
    topKPerQuery("topK", scoredGrid(corpus, queries, idCol, vecCol), k, keepIdType = true)
      .select("query_id", "neighbor_id")
  }

  /** The exact scored grid every brute-force operator ranks: broadcast
    * unit-normalized queries × the cached unit-normalized corpus, self-
    * matches (equal ids) excluded, as narrow `(query_id, neighbor_id, cos)`
    * rows.
    *
    * The query side is **broadcast** — the corpus never shuffles, each
    * corpus partition streams once against the in-memory query set. This is
    * the right plan shape at any corpus size as long as the query batch is
    * small; for large query batches, chunk the queries and union. */
  private def scoredGrid(corpus: DataFrame, queries: DataFrame, idCol: String,
      vecCol: String): DataFrame =
    // cached: BroadcastHashJoin codegen defers stream-side column evaluation
    // to per-OUTPUT-row — every query match would re-run the normalize,
    // multiplying its cost by the match fan-out (measured 35× on the IVF
    // path before the equivalent fix there). The persisted projection is the
    // classic built-once similarity index; Caches.unpersistAll releases it.
    unitGrid(Caches.track(unitized(corpus, idCol, vecCol, "id", "v")), queries, idCol, vecCol)

  /** [[scoredGrid]] over an already-materialized unit corpus `u` (`id`,
    * `v`) — the form [[hardNegatives]] shares with its pair search. */
  private def unitGrid(u: DataFrame, queries: DataFrame, idCol: String,
      vecCol: String): DataFrame = {
    val q = broadcast(unitized(queries, idCol, vecCol, "query_id", "qv"))
    // project the vectors away BEFORE ranking: carrying two dim-d vectors
    // per scored row makes the ranking payload O(d) per candidate —
    // measured 46× (not the linear 8×) going dim-128 → dim-1024 under the
    // former per-query sort before this projection. The narrow
    // (query_id, neighbor_id, cos) row is 24 bytes at any dimension.
    u.join(q, col("query_id") =!= col("id"))
      .select(col("query_id"), col("id").as("neighbor_id"), dot(col("qv"), col("v")).as("cos"))
  }

  /** The one per-query top-k of this module: `(query_id, neighbor_id, cos)`
    * → each query's `k` best as `(query_id, neighbor_id, cos, rnk)`, `rnk`
    * 1-based under the (cos DESC, neighbor_id ASC) total order.
    *
    * Bounded map-side aggregation ([[Aggregators.TopKPairsAggregator]]),
    * NOT a rank window: with a batch of queries the scored frame holds
    * |Q|·|candidates| rows, and a window would shuffle ALL of them to
    * per-query reducers; the aggregator partially combines to ≤ k pairs
    * per (query × map partition) before the exchange (measured 196 s →
    * 119 s on the 30k×30k bitext pool, identical results).
    *
    * The aggregator ranks ids as `long`, so `neighbor_id` must be integral
    * (byte/short/int/long — lossless through `long`) and `k >= 1`; `op`
    * names the refusing operator. A string, decimal or fractional id is
    * refused rather than cast: a cast would rank `'007'` as `7` and merge
    * distinct fractional ids. `neighbor_id` comes back as `long`, or in its
    * input type when `keepIdType` (the operators whose output always kept
    * the corpus id type). */
  private def topKPerQuery(op: String, scored: DataFrame, k: Int,
      keepIdType: Boolean): DataFrame = {
    val idType = scored.schema("neighbor_id").dataType
    require(Set[DataType](ByteType, ShortType, IntegerType, LongType)(idType),
      s"$op: ids must be integral (byte/short/int/long) to rank, got ${idType.simpleString}")
    require(k >= 1, s"$op: k must be >= 1: $k")
    val topk = udaf(new Aggregators.TopKPairsAggregator(k))
    scored.groupBy("query_id")
      .agg(topk(col("neighbor_id").cast("long"), col("cos")).as("__tk"))
      .select(col("query_id"), posexplode(col("__tk")).as(Seq("__pos", "__p")))
      .select(col("query_id"),
        (if (keepIdType) col("__p._1").cast(idType) else col("__p._1")).as("neighbor_id"),
        col("__p._2").as("cos"), (col("__pos") + 1).as("rnk"))
  }

  /** [[topK]]'s ranking with both sides' labels re-attached by id —
    * `(query_id, neighbor_id, cos, rnk, qlabel, clabel, rel)`, `rel` = 1
    * on a label match. The grid ranks without labels; the ≤ |queries|·k
    * ranked rows are broadcast back onto the corpus labels (the corpus
    * streams, nothing is scored twice). */
  private def rankedWithLabels(op: String, corpus: DataFrame, queries: DataFrame,
      idCol: String, vecCol: String, labelCol: String, k: Int): DataFrame = {
    require(k >= 1 && k <= 1000, s"k must be in [1,1000]: $k")
    val ranked = topKPerQuery(op, scoredGrid(corpus, queries, idCol, vecCol), k, keepIdType = true)
    corpus.select(col(idCol).as("neighbor_id"), col(labelCol).as("clabel"))
      .join(broadcast(ranked), Seq("neighbor_id"))
      .join(broadcast(queries.select(col(idCol).as("query_id"), col(labelCol).as("qlabel"))),
        Seq("query_id"))
      .withColumn("rel", (col("clabel") === col("qlabel")).cast("int"))
  }

  /**
   * Retrieval-quality evaluation: NDCG@k per query over label relevance —
   * the standard eval-harness metric for an embedding space (is the
   * neighborhood of each vector actually its class?), run the way a
   * retrieval eval runs: brute-force exact ranking (the [[topK]] plan
   * shape — broadcast query set, corpus streams once, no shuffle of the
   * corpus), binary relevance = label match, `NDCG = DCG / IDCG` with
   * `DCG = Σ rel_i / log2(i+1)` over the top `k` and `IDCG` the ideal
   * prefix at `min(R, k)` ones, `R` = the query's same-label corpus
   * candidates (self excluded — queries are corpus members by the topK
   * convention). Queries whose label has no other member emit NULL (no
   * ideal ranking exists, and 0 would be indistinguishable from a real
   * all-miss).
   *
   * Determinism contract: ranks use the (cos DESC, id ASC) total order;
   * the `1/log2(i+1)` discount weights and their IDCG prefix sums are
   * computed HERE as JVM doubles and embedded as array literals indexed
   * by rank — an oracle interpolating the same values never re-derives a
   * transcendental, so engine libm differences cannot flap the gate.
   * Returns `(query_id, ndcg)` (ndcg unrounded; callers round for gates).
   * Ids must be integral, as for [[topK]].
   */
  def retrievalNdcg(corpus: DataFrame, queries: DataFrame, idCol: String,
      vecCol: String, labelCol: String, k: Int): DataFrame = {
    val top = rankedWithLabels("retrievalNdcg", corpus, queries, idCol, vecCol, labelCol, k)
    val (wArr, iArr) = ndcgWeights(k)
    val dcg = top.groupBy("query_id", "qlabel")
      .agg(sum(col("rel").cast("double") *
        element_at(array(wArr.map(lit): _*), col("rnk"))).as("dcg"))
    val labelCounts = broadcast(corpus.groupBy(col(labelCol).as("qlabel"))
      .agg(count(lit(1)).as("lcnt")))
    dcg.join(labelCounts, Seq("qlabel"))
      .select(col("query_id"), when(col("lcnt") > 1, col("dcg") /
        element_at(array(iArr.map(lit): _*),
          least(col("lcnt") - 1, lit(k.toLong)).cast("int"))).as("ndcg"))
  }

  /**
   * Mean-reciprocal-rank inputs: the reciprocal rank `1/rank` of each
   * query's FIRST same-label neighbor within its cosine top-k (0.0 when
   * no relevant neighbor ranks that high) — the first-hit retrieval
   * metric reported beside NDCG on every embedding benchmark (MTEB/BEIR
   * report both: NDCG grades the whole ranking, RR only the first hit a
   * user actually clicks). Per-query rows so the caller averages at
   * whatever grain it reports; the division is one exact `1/integer`.
   *
   * Same plan shape as [[retrievalNdcg]] (broadcast query side, cached
   * normalized corpus, the bounded per-query top-k of [[topKPerQuery]]).
   * Ids must be integral, as for [[topK]].
   */
  def retrievalMrr(corpus: DataFrame, queries: DataFrame, idCol: String,
      vecCol: String, labelCol: String, k: Int): DataFrame = {
    val first = rankedWithLabels("retrievalMrr", corpus, queries, idCol, vecCol, labelCol, k)
      .filter(col("rel") === 1)
      .groupBy("query_id").agg(min("rnk").as("__r"))
    queries.select(col(idCol).as("query_id")).join(first, Seq("query_id"), "left")
      .select(col("query_id"),
        coalesce(round(lit(1.0) / col("__r"), 6), lit(0.0)).as("rr"))
  }

  /**
   * k-NN majority-vote classification over the embedding space — the
   * lazy-learner baseline every labeled-corpus eval starts from (and the
   * label-propagation step for semi-supervised corpus labeling): each
   * query takes its exact cosine top-k (the [[topK]] plan shape) and is
   * assigned the label with the most votes, ties broken by (votes DESC,
   * label ASC) so the prediction is a total order in both engines.
   * Output: (query_id, gold, predicted, votes, correct).
   *
   * Scale shape: broadcast query side, corpus streams once, the bounded
   * per-query top-k, then a ≤|labels|-row vote count per query —
   * everything after the scan is query-cardinality-sized. Ids must be
   * integral, as for [[topK]].
   */
  def knnClassify(corpus: DataFrame, queries: DataFrame, idCol: String,
      vecCol: String, labelCol: String, k: Int): DataFrame = {
    val votes = rankedWithLabels("knnClassify", corpus, queries, idCol, vecCol, labelCol, k)
      .groupBy(col("query_id"), col("qlabel").as("gold"), col("clabel"))
      .agg(count(lit(1)).as("votes"))
    val pick = Window.partitionBy("query_id")
      .orderBy(col("votes").desc, col("clabel"))
    votes.withColumn("__p", row_number().over(pick)).filter(col("__p") === 1)
      .select(col("query_id"), col("gold"), col("clabel").as("predicted"),
        col("votes"), (col("clabel") === col("gold")).as("correct"))
  }

  /** The rank-discount weights `1/log2(i+1)` for i = 1..k and their prefix
    * sums (the IDCG table) — shared verbatim with gate oracles so both
    * engines index the SAME literal doubles. */
  def ndcgWeights(k: Int): (Seq[Double], Seq[Double]) = {
    val w = (1 to k).map(i => 1.0 / (math.log(i + 1.0) / math.log(2.0)))
    (w, w.scanLeft(0.0)(_ + _).tail)
  }

  /**
   * Hybrid lexical + vector retrieval fused with Reciprocal Rank Fusion
   * (Cormack, Clarke & Büttcher 2009): rank the corpus by BM25 for a term
   * query and by cosine against a query embedding, then score every
   * retrieved id by `Σ 1/(k0 + rank)` over the lists that retrieved it —
   * the standard RAG-era hybrid, robust precisely because it fuses RANKS
   * (scale-free) rather than trying to calibrate BM25 scores against
   * cosines. Documents and embeddings are linked by id (`docIdCol` value ≡
   * `vecIdCol` value); the query embedding is the corpus vector at
   * `queryVecId`, which is excluded from the candidate pool (the
   * [[topK]] self-match convention).
   *
   * Determinism contract (the bm25 cutoff rule): both pools rank by their
   * ROUNDED score (6 dp) descending with id ascending — a total order, so
   * pool membership and ranks are engine-independent — and the fused
   * `1/(k0+rank)` sums are IEEE-identical given identical integer ranks.
   * Scale shape: the BM25 pool is [[TextAnalysis.bm25]]'s posting-list
   * plan; the vector pool broadcasts ONE query row and streams the corpus
   * once into a TakeOrdered heap (no global sort); both pools are ≤
   * `poolK` rows before ranking, so the rank numbering and the full-outer
   * fuse run on bounded frames. Returns `(id, lex_rank, vec_rank, rrf)`,
   * ranks NULL where a list did not retrieve the id, top `topK` by
   * `(rrf desc, id)`.
   */
  def hybridRrf(docs: DataFrame, emb: DataFrame, query: String, queryVecId: Long,
      docIdCol: String = "doc_id", textCol: String = "text",
      vecIdCol: String = "vec_id", vecCol: String = "embedding",
      poolK: Int = 50, k0: Int = 60, topK: Int = 20): DataFrame = {
    require(poolK > 0, s"poolK must be positive: $poolK")
    require(topK > 0, s"topK must be positive: $topK")
    require(k0 >= 1, s"k0 must be >= 1: $k0")
    // the query row is a required singleton — a silent empty/duplicate
    // match would empty or double the vector pool, so fail loudly instead
    val qRows = emb.filter(col(vecIdCol) === queryVecId)
      .select(asDouble(col(vecCol)).as("__qv")).limit(2).collect()
    require(qRows.length == 1,
      s"query vector id $queryVecId must match exactly one embedding row, " +
        s"found ${qRows.length}")
    val lexPool = TextAnalysis.bm25(docs, query, docIdCol, textCol, topK = poolK)
    val lex = graft.ops.Ops.globalOrdinals(lexPool,
        Seq(col("score").desc, col(docIdCol).asc), 1, "__ord")
      .select(col(docIdCol).cast("long").as("id"), (col("__ord") + 1L).as("lex_rank"))
    val qv = broadcast(emb.sparkSession.createDataFrame(
      java.util.Arrays.asList(qRows(0)),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("__qv",
          org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.DoubleType))))))
    val vecPool = emb.filter(col(vecIdCol) =!= queryVecId)
      .crossJoin(qv)
      .select(col(vecIdCol).cast("long").as("id"),
        round(cosine(asDouble(col(vecCol)), col("__qv")), 6).as("__cos"))
      .orderBy(col("__cos").desc, col("id").asc).limit(poolK)
    val vec = graft.ops.Ops.globalOrdinals(vecPool,
        Seq(col("__cos").desc, col("id").asc), 1, "__ord")
      .select(col("id"), (col("__ord") + 1L).as("vec_rank"))
    lex.join(vec, Seq("id"), "full_outer")
      .select(col("id"), col("lex_rank"), col("vec_rank"),
        (coalesce(lit(1.0) / (lit(k0) + col("lex_rank")), lit(0.0)) +
          coalesce(lit(1.0) / (lit(k0) + col("vec_rank")), lit(0.0))).as("rrf"))
      .orderBy(col("rrf").desc, col("id").asc).limit(topK)
  }

  /**
   * Margin-based bitext mining (the LASER/CCMatrix parallel-corpus
   * criterion, Artetxe & Schwenk 2019): candidate pairs are MUTUAL nearest
   * neighbors across the two sides, scored by the ratio margin
   * `cos(x,y) / ((mean top-k cos of x in B + mean top-k cos of y in A)/2)`
   * — the margin discounts hubs (vectors close to everything), which a raw
   * cosine cut cannot, and is the standard filter for mining aligned
   * sentence/document pairs for translation training data.
   *
   * Returns `(a_id, b_id, margin)` for every mutual-NN1 pair, margin
   * rounded to 6, ordered margin DESC with `a_id` tiebreak. No threshold is
   * applied here — thresholding is a caller policy (and a gate with a cut
   * would flap on the boundary ulp); the margin column is the cut key.
   *
   * Determinism contract (the oracle mirrors every step): ranks use the
   * (cos DESC, id ASC) total order; the top-k means are summed as EXACT
   * integer micro-cosines (`round(cos·1e6)::long`) so the denominator is
   * associativity-free in any accumulation order, and the single ratio is
   * one double division + round(…, 6) — identical IEEE ops both engines.
   *
   * Plan shape: side B broadcasts (the [[topK]] contract — side A streams
   * once, never shuffles for scoring), the scored pair frame is cached and
   * projected NARROW (ids + cos, 24 bytes/row at any dimension) before the
   * two per-side top-k passes. This brute-force pair source is exact and
   * right when one side fits a broadcast (the usual mining shape: a query
   * batch against a corpus shard); for two huge sides swap the pair source
   * for the IVF-routed pool ([[annSearchIvf]] / [[cosinePairsRouted]]) — the
   * margin algebra downstream of `scored` is pair-source-independent.
   */
  def bitextMarginMine(a: DataFrame, b: DataFrame, idCol: String,
      vecCol: String, k: Int = 4): DataFrame = {
    require(k >= 1, s"k must be >= 1: $k")
    // raw-cosine form (dot / (norm·norm)), NOT normalize-then-dot: the
    // rounded VALUE is compared against DuckDB's list_cosine_similarity
    // (the sim_rrf_fusion precedent), so the arithmetic must match it
    // spread side A across the session's full parallelism BEFORE the pair
    // grid forms: a small parquet side arrives as 1–2 input splits, and the
    // broadcast join's output parallelism IS the stream side's — without
    // this the |A|×|B| scoring runs on one task (measured 8 s → 1.4 s at
    // 1 M pairs). One exchange of |A| narrow rows, negligible at any size
    val pa = a.select(col(idCol).cast("long").as("a_id"), asDouble(col(vecCol)).as("av"))
      .repartition(a.sparkSession.sparkContext.defaultParallelism)
      .withColumn("__na", norm(col("av")))
    val pb = broadcast(
      b.select(col(idCol).cast("long").as("b_id"), asDouble(col(vecCol)).as("bv"))
        .withColumn("__nb", norm(col("bv"))))
    val scored = Caches.track(pa.crossJoin(pb)
      .select(col("a_id"), col("b_id"),
        (dot(col("av"), col("bv")) / (col("__na") * col("__nb"))).as("cos")))
    // both directions' top-k via the bounded map-side ranker — two rank
    // windows here would each sort-shuffle the ENTIRE |A|×|B| grid
    val micro = round(col("cos") * lit(1e6), 0).cast("long")
    val ab = Caches.track(topKPerQuery("bitextMarginMine",
        scored.select(col("a_id").as("query_id"), col("b_id").as("neighbor_id"), col("cos")), k,
        keepIdType = false)
      .select(col("query_id").as("a_id"), col("neighbor_id").as("b_id"), col("cos"),
        col("rnk").as("rn_a")))
    val ba = Caches.track(topKPerQuery("bitextMarginMine",
        scored.select(col("b_id").as("query_id"), col("a_id").as("neighbor_id"), col("cos")), k,
        keepIdType = false)
      .select(col("query_id").as("b_id"), col("neighbor_id").as("a_id"), col("cos"),
        col("rnk").as("rn_b")))
    val da = ab.groupBy("a_id").agg(sum(micro).as("__ma"))
    val db = ba.groupBy("b_id").agg(sum(micro).as("__mb"))
    ab.filter(col("rn_a") === 1)
      .join(ba.filter(col("rn_b") === 1).select("a_id", "b_id"),
        Seq("a_id", "b_id"), "left_semi")
      .join(da, "a_id").join(db, "b_id")
      .select(col("a_id"), col("b_id"),
        round(round(col("cos"), 6) * lit(2.0 * k * 1e6) /
          (col("__ma") + col("__mb")).cast("double"), 6).as("margin"))
      .orderBy(col("margin").desc, col("a_id"))
  }

  /** IVF top-k WITH scores (`query_id`, `neighbor_id`, `cos`, `rnk` ≤ k)
    * over a per-call index: train the quantizer, assign the corpus, probe
    * and rank. [[annTopK]] drops id-equal pairs (`excludeSelf`); the bitext
    * pools keep them (bitext sides are separate id spaces; a same-id pair
    * across sides is a legitimate candidate). */
  private def ivfRanked(op: String, corpus: DataFrame, queries: DataFrame, idCol: String,
      vecCol: String, k: Int, nlist: Int, nprobe: Int, sampleSize: Int,
      seed: Long, excludeSelf: Boolean): DataFrame = {
    val cents = trainCentroids(corpus, vecCol, nlist, sampleSize, seed)
    // cached: this IS the IVF index (normalized vector + list id per row) and
    // it must be MATERIALIZED, not a lazy projection: BroadcastHashJoin
    // codegen defers stream-side column evaluation to per-OUTPUT-row, so the
    // probe join would otherwise re-run normalize + the nlist-dot argmax
    // once per MATCH — measured 58 s → 1.1 s on a dim-512 replica corpus
    // (35× tax at ~37 matches/row; BASELINE.md, "Round-6 similarity-path
    // codegen fix"). For reuse across query batches,
    // [[buildIndex]] writes this same frame to storage instead.
    val c = Caches.track(ivfAssigned(corpus, idCol, vecCol, cents))
    probeAndRank(op, c, probes(cents, queries, idCol, vecCol, nprobe), k,
      keepIdType = false, excludeSelf = excludeSelf)
  }

  /**
   * [[bitextMarginMine]]'s 100 TB path: the same mutual-NN1 + ratio-margin
   * algebra, but candidate pools come from TWO IVF probes (index B / probe
   * with A, and index A / probe with B) instead of the exact |A|×|B| grid —
   * exactly how CCMatrix runs the criterion (margins over FAISS k-NN lists,
   * Schwenk et al. 2021). Each side's corpus shuffles once on small `list`
   * keys; nothing all-pairs forms at any size. At full probe
   * (`nprobe = nlist`) the pools are exhaustive and the result coincides
   * with the exact operator (spec-pinned); at partial probe it trades
   * recall for the probe fraction like every IVF path here.
   *
   * The A→B and B→A cosines of one pair are bit-identical (commutative
   * per-element products of the same unitized vectors, same accumulation
   * order), so the two pools agree on every shared pair's score and the
   * mutual-NN1 test cannot flap between directions.
   */
  def bitextMarginMinePooled(a: DataFrame, b: DataFrame, idCol: String,
      vecCol: String, k: Int = 4, nlist: Int = 16, nprobe: Int = 6,
      sampleSize: Int = 4096, seed: Long = 42L): DataFrame = {
    require(k >= 1, s"k must be >= 1: $k")
    val ab = Caches.track(
      ivfRanked("bitextMarginMinePooled", b, a, idCol, vecCol, k, nlist, nprobe, sampleSize,
        seed, excludeSelf = false)
        .select(col("query_id").as("a_id"), col("neighbor_id").as("b_id"),
          col("cos"), col("rnk").as("rn_a")))
    val ba = Caches.track(
      ivfRanked("bitextMarginMinePooled", a, b, idCol, vecCol, k, nlist, nprobe, sampleSize,
        seed, excludeSelf = false)
        .select(col("query_id").as("b_id"), col("neighbor_id").as("a_id"),
          col("cos").as("cos_ba"), col("rnk").as("rn_b")))
    val ma = ab.groupBy("a_id")
      .agg(sum(round(col("cos") * lit(1e6), 0).cast("long")).as("__ma"),
        count(lit(1)).as("__ka"))
    val mb = ba.groupBy("b_id")
      .agg(sum(round(col("cos_ba") * lit(1e6), 0).cast("long")).as("__mb"),
        count(lit(1)).as("__kb"))
    // denominator = (mean_a + mean_b) / 2 over the ACTUAL pool sizes (a
    // partial probe can return < k candidates; dividing by a fixed k would
    // inflate margins of under-filled pools)
    ab.filter(col("rn_a") === 1)
      .join(ba.filter(col("rn_b") === 1).select("a_id", "b_id"),
        Seq("a_id", "b_id"), "left_semi")
      .join(ma, "a_id").join(mb, "b_id")
      .select(col("a_id"), col("b_id"),
        round(round(col("cos"), 6) * lit(2.0 * 1e6) /
          (col("__ma").cast("double") / col("__ka") +
            col("__mb").cast("double") / col("__kb")), 6).as("margin"))
      .orderBy(col("margin").desc, col("a_id"))
  }

  /**
   * Train an IVF coarse quantizer: k-means centroids over a bounded,
   * deterministic sample of unit-normalized corpus vectors. The sample
   * (≤ `sampleSize` rows) is the ONLY driver-side materialization — standard
   * IVF practice (the quantizer is tiny; the index assignment stays fully
   * distributed), so this holds at any corpus size.
   *
   * Reads `corpus` ONCE: the sample is one job, and the dimension comes
   * from the sampled vectors themselves rather than a separate probe.
   */
  private[ext] def trainCentroids(corpus: DataFrame, vecCol: String, nlist0: Int,
      sampleSize: Int, seed: Long): Array[Array[Double]] = {
    val sample = corpus
      .select(org.apache.spark.sql.graftx.VectorFunctions.vec_normalize(col(vecCol)).as("v"))
      .orderBy(rand(seed)).limit(sampleSize)
      .collect().map(_.getSeq[Double](0).toArray)
    require(sample.nonEmpty, "cannot train a quantizer on an empty corpus")
    val dim = sample(0).length
    // tiny corpora: fewer lists than requested beats refusing to index
    val nlist = math.min(nlist0, sample.length)
    val rnd = new scala.util.Random(seed)
    var centroids = rnd.shuffle(sample.toVector).take(nlist).map(_.clone()).toArray
    def dotA(a: Array[Double], b: Array[Double]): Double = {
      var s = 0.0; var i = 0
      while (i < a.length) { s += a(i) * b(i); i += 1 }
      s
    }
    // spherical k-means: assign by max cosine, recenter, renormalize
    for (_ <- 0 until 8) {
      val sums = Array.fill(nlist)(new Array[Double](dim))
      val counts = new Array[Int](nlist)
      sample.foreach { v =>
        var best = 0; var bs = Double.MinValue
        var c = 0
        while (c < nlist) { val s = dotA(v, centroids(c)); if (s > bs) { bs = s; best = c }; c += 1 }
        var i = 0
        while (i < dim) { sums(best)(i) += v(i); i += 1 }
        counts(best) += 1
      }
      centroids = centroids.indices.map { c =>
        if (counts(c) == 0) centroids(c)
        else {
          val m = sums(c)
          val n = math.sqrt(dotA(m, m))
          if (n == 0) centroids(c) else m.map(_ / n)
        }
      }.toArray
    }
    centroids
  }

  /** IVF list assignment: argmax of `vec_dot(v, centroid_c)` — all `nlist`
    * dot products from ONE codegen'd `centroid_dots` (the matrix travels as
    * a single plan reference; a CreateArray of per-centroid `dot` children
    * blows janino's 64 KB method limit at nlist×dim ≈ 16×1024 and drops the
    * stage to interpreted eval). Uses `array_position(scores,
    * array_max(scores))` so the expression tree is LINEAR in `nlist` (a
    * naive when-chain fold that embeds the accumulator in both branches is
    * O(2^nlist) nodes and hangs codegen at nlist=16). Ties resolve to the
    * first (lowest) list id. */
  private def listAssignment(v: Column, centroids: Array[Array[Double]]): Column = {
    val scores = org.apache.spark.sql.graftx.VectorFunctions.centroid_dots(v, centroids)
    (array_position(scores, array_max(scores)) - 1).cast("int")
  }

  /** The IVF index frame `(neighbor_id, cv, list)`: unit-normalized vectors
    * assigned to their nearest centroid — what [[buildIndex]] persists,
    * [[appendToIndex]] grows and the per-call IVF paths cache. */
  private def ivfAssigned(df: DataFrame, idCol: String, vecCol: String,
      centroids: Array[Array[Double]]): DataFrame =
    unitized(df, idCol, vecCol, "neighbor_id", "cv")
      .withColumn("list", listAssignment(col("cv"), centroids))

  /**
   * Approximate top-k via IVF (inverted-file) search: a coarse quantizer
   * (spherical k-means over a deterministic sample, [[trainCentroids]])
   * partitions the corpus into `nlist` inverted lists; each query probes its
   * `nprobe` nearest lists and exact cosine re-ranks within them.
   *
   * Scale shape: centroid training is bounded (sample-sized); list
   * assignment is a narrow map over the corpus (`nlist` codegen'd dot
   * products per vector); the probe join shuffles only on small `list` keys;
   * each query scans ~`nprobe/nlist` of the corpus. Unlike random-hyperplane
   * LSH, the quantizer adapts to the data's cluster structure, which is what
   * rescues recall on weakly-clustered embeddings (measured vs. exact
   * [[topK]] in `SimilaritySpec`).
   */
  def annTopK(corpus: DataFrame, queries: DataFrame, idCol: String, vecCol: String,
      k: Int, nlist: Int = 16, nprobe: Int = 6, sampleSize: Int = 4096,
      seed: Long = 42L): DataFrame = {
    ivfRanked("annTopK", corpus, queries, idCol, vecCol, k, nlist, nprobe, sampleSize, seed,
      excludeSelf = true).select("query_id", "neighbor_id")
  }

  /** Per-query probe set (`query_id`, `qv`, `list`): the `nprobe` nearest
    * centroids by sorting (angle, list) pairs — angle asc ≡ dot desc (acos
    * is monotone decreasing). All centroid angles come from one codegen'd
    * `centroid_angles` (the per-centroid struct CreateArray had the same
    * janino 64 KB hazard as [[listAssignment]] at wide nlist × dim). */
  private def probes(cents: Array[Array[Double]], queries: DataFrame,
      idCol: String, vecCol: String, nprobe: Int): DataFrame = {
    val q0 = unitized(queries, idCol, vecCol, "query_id", "qv")
      .withColumn("cd", arrays_zip(
        org.apache.spark.sql.graftx.VectorFunctions.centroid_angles(col("qv"), cents),
        sequence(lit(0), lit(cents.length - 1))))
    q0.select(col("query_id"), col("qv"),
      explode(transform(slice(array_sort(col("cd")), 1, nprobe), p => p.getField("1"))).as("list"))
  }

  /** The IVF probe join ranked, shared by every IVF search: each query's
    * probe lists join the index frame `c` on `list`, candidates score by
    * `score` (default the exact dot of the unit vectors), id-equal pairs
    * drop when `excludeSelf`, and [[topKPerQuery]] keeps each query's k
    * best — `(query_id, neighbor_id, cos, rnk)`. Only the scored 24-byte
    * rows reach the ranker, never O(d) vector payloads (see
    * [[scoredGrid]]). */
  private def probeAndRank(op: String, c: DataFrame, probeFrame: DataFrame, k: Int,
      keepIdType: Boolean, score: Column = dot(col("qv"), col("cv")),
      excludeSelf: Boolean = true): DataFrame = {
    val joined = broadcast(probeFrame).join(c, Seq("list"))
    val candidates =
      if (excludeSelf) joined.filter(col("query_id") =!= col("neighbor_id")) else joined
    topKPerQuery(op, candidates.select(col("query_id"), col("neighbor_id"), score.as("cos")), k,
      keepIdType)
  }

  /** A persisted IVF index: `table` holds the normalized, list-assigned
    * corpus (`neighbor_id`, `cv`, `list`) range-clustered on `list`;
    * `<table>_centroids` holds the quantizer as (list, pos, value) rows.
    * Production search reuses one build across every query batch —
    * [[annTopK]] recomputes both per call. */
  final case class IvfIndex(table: String, centroids: Array[Array[Double]])

  /**
   * Build and persist the IVF index once: train the coarse quantizer
   * (sample-bounded), assign every corpus vector to its nearest list
   * (`nlist` codegen'd dots per row, no shuffle), and write the index
   * range-clustered on `list` so each file covers few lists — a probe that
   * touches `nprobe` of `nlist` lists then READS ~`nprobe/nlist` of the
   * files (footer min/max skipping), not the whole corpus. The quantizer
   * itself persists to `<table>_centroids` so later sessions [[loadIndex]]
   * without retraining.
   */
  def buildIndex(store: graft.store.TableStore, table: String, corpus: DataFrame,
      idCol: String, vecCol: String, nlist: Int = 16, sampleSize: Int = 4096,
      seed: Long = 42L): IvfIndex = {
    writeIvf(store, table, corpus, idCol, vecCol, nlist, sampleSize, seed)(identity)
  }

  /** The one IVF build: train the quantizer, write the list-assigned corpus
    * — through `payload`, which may re-encode the vectors but keeps `list`
    * — range-clustered on `list`, and persist the centroids to
    * `<table>_centroids` as (list, pos, value) rows. */
  private def writeIvf(store: graft.store.TableStore, table: String, corpus: DataFrame,
      idCol: String, vecCol: String, nlist: Int, sampleSize: Int, seed: Long)(
      payload: DataFrame => DataFrame): IvfIndex = {
    val cents = trainCentroids(corpus, vecCol, nlist, sampleSize, seed)
    store.atomicOverwriteClustered(table, payload(ivfAssigned(corpus, idCol, vecCol, cents)),
      Seq("list"), numFiles = cents.length)
    val spark = corpus.sparkSession
    import spark.implicits._
    store.atomicOverwrite(s"${table}_centroids",
      cents.zipWithIndex.flatMap { case (c, l) =>
        c.zipWithIndex.map { case (v, p) => (l, p, v) }
      }.toSeq.toDF("list", "pos", "value"))
    IvfIndex(table, cents)
  }

  /**
   * Grow a persisted IVF index with new vectors — the ANN mirror of
   * [[graft.ext.Dedup.appendToLshIndex]], closing the incremental-ingest
   * loop: the batch is unit-normalized and list-assigned against the STORED
   * quantizer (the centroid table is the index's frozen parameter set — a
   * retrain would re-route existing lists and silently invalidate every
   * previously-written assignment), then appended to the corpus table as
   * its own O(1)-committed generation. Cost per call tracks the batch; the
   * existing index is never read or rewritten.
   *
   * Contract: at `nprobe = nlist` search stays EXACT over the grown corpus
   * (a full probe reads every list, wherever a vector was assigned). At
   * partial probe, recall for appended vectors reflects the frozen
   * quantizer's fit to them — a heavily drifted embedding distribution
   * deserves a [[buildIndex]] rebuild, the standard IVF add-vs-retrain
   * trade. Appended files sit outside the original list-clustered layout,
   * so probe-list file skipping loosens until the next
   * [[graft.store.TableStore.compact]]; the `list IN` filter prunes row
   * groups either way.
   */
  def appendToIndex(store: graft.store.TableStore, index: IvfIndex, batch: DataFrame,
      idCol: String, vecCol: String): Unit = {
    store.append(index.table, ivfAssigned(batch, idCol, vecCol, index.centroids))
    // opt-in growth bound (store.autoCompactFiles): re-clustering on `list`
    // restores the build-time probe file skipping after many small appends
    store.maybeAutoCompactClustered(index.table, Seq("list"), index.centroids.length)
  }

  /**
   * Build and persist an IVF+SQ index — the [[buildIndex]] layout with the
   * stored payload int8-quantized: each corpus vector is unit-normalized,
   * list-assigned, and stored as `(neighbor_id, list, scale, qvec)` where
   * `(scale, qvec)` is [[quantizeInt8]]'s bit-pinned symmetric quantization
   * OF THE UNIT VECTOR (`scale = 127/max|x|`, `q = floor(x·scale + 0.5)`).
   * At real embedding widths the index payload is ~4× smaller than float32
   * — every probe reads a quarter of the bytes — at the cost of ranking by
   * the QUANTIZED cosine (`dot(q_unit, qvec)/scale`): a deterministic,
   * reproducible score whose error vs the exact cosine is bounded by the
   * quantization step (~1/127 per element pair). The standard IVF+SQ trade;
   * [[buildIndex]] remains the exact-payload path.
   */
  def buildIndexQuantized(store: graft.store.TableStore, table: String, corpus: DataFrame,
      idCol: String, vecCol: String, nlist: Int = 16, sampleSize: Int = 4096,
      seed: Long = 42L): IvfIndex = {
    writeIvf(store, table, corpus, idCol, vecCol, nlist, sampleSize, seed)(
      int8Quantized(_, Seq("neighbor_id", "list"), col("cv")))
  }

  /** Search an IVF+SQ index built by [[buildIndexQuantized]]: probe pruning
    * identical to [[searchIndex]], ranking by the dequantized dot
    * `dot(q_unit, qvec)/scale` (ties by neighbor id). A zero-vector corpus
    * row (`scale = 0`) scores 0 and never ranks — mirroring `unitized`'s
    * zero handling on the exact path. Ids must be integral and `k >= 1`,
    * as for [[topK]]; `neighbor_id` keeps the corpus id type. */
  def searchIndexQuantized(store: graft.store.TableStore, index: IvfIndex, queries: DataFrame,
      idCol: String, vecCol: String, k: Int, nprobe: Int = 6): DataFrame = {
    searchStored("searchIndexQuantized", store, index, queries, idCol, vecCol, k, nprobe,
      keepIdType = true,
      // qvec is array<bigint> (Spark's floor); the cast to double is exact
      // for int8-range values
      when(col("scale") > 0, dot(col("qv"), col("qvec").cast("array<double>")) / col("scale"))
        .otherwise(lit(0.0)))
  }

  /**
   * Two-stage retrieval: int8-SQ first stage → exact float re-rank of the
   * survivors — the production trade the recall curves recommend (the
   * quantized index reads ~4× fewer bytes per probe; its ~1.5-pt recall
   * tax is recovered by re-scoring a small candidate pool at full
   * precision). Stage 1 retrieves `rerankFactor × k` candidates per query
   * from the SQ index ([[searchIndexQuantized]] at `nprobe`); stage 2
   * fetches ONLY those candidates' float vectors from `exactSource` (a
   * keyed fetch — the candidate pool is `|queries| × rerankFactor × k`
   * rows, broadcastable at any corpus size), re-scores with the exact
   * codegen'd dot, and ranks top-k (ties by neighbor id, the house
   * ordering).
   *
   * Scale shape: stage 1's cost is the SQ probe (quarter-width rows over
   * `nprobe/nlist` of the files); stage 2 touches the float corpus through
   * one broadcast semi-join on `neighbor_id` + a broadcast of the query
   * vectors — no corpus shuffle, no wide sort (the bounded top-k moves
   * 24-byte rows). At full probe with an adequate pool the result equals
   * brute force exactly (gated); at partial probe the int8 ranking gap
   * closes to the float path's recall at the same nprobe (BASELINE.md,
   * "partial-probe recall curves, IVF index family": 40 k jittered
   * vectors). Ids must be integral and `k >= 1`, as for [[topK]].
   */
  def searchIndexRerank(store: graft.store.TableStore, index: IvfIndex,
      exactSource: DataFrame, queries: DataFrame, idCol: String, vecCol: String,
      k: Int, nprobe: Int = 6, rerankFactor: Int = 4): DataFrame = {
    require(rerankFactor >= 1, s"rerankFactor must be >= 1: $rerankFactor")
    val pool = searchIndexQuantized(store, index, queries, idCol, vecCol,
      k * rerankFactor, nprobe)
    val cand = broadcast(pool) // |queries| × rerankFactor × k ids — tiny
    val cv = unitized(exactSource, idCol, vecCol, "neighbor_id", "cv")
      .join(cand, Seq("neighbor_id")) // keyed fetch: corpus streams, no shuffle
    val q = broadcast(unitized(queries, idCol, vecCol, "query_id", "qv")
      .withColumnRenamed("query_id", "__qid"))
    val scored = cv.join(q, col("__qid") === col("query_id"))
      .select(col("query_id"), col("neighbor_id"), dot(col("qv"), col("cv")).as("cos"))
    topKPerQuery("searchIndexRerank", scored, k, keepIdType = true).select("query_id", "neighbor_id")
  }

  /** Reload a persisted index's quantizer (nlist × dim rows — bounded index
    * metadata, the one deliberate driver-side collect of this module). */
  def loadIndex(store: graft.store.TableStore, table: String): IvfIndex = {
    val rows = store.read(s"${table}_centroids").collect()
    require(rows.nonEmpty, s"loadIndex('$table'): empty or missing centroid table")
    val cents = rows.groupBy(_.getInt(0)).toSeq.sortBy(_._1).map { case (_, rs) =>
      rs.sortBy(_.getInt(1)).map(_.getDouble(2)).toArray
    }.toArray
    IvfIndex(table, cents)
  }

  /**
   * Search a persisted index: no training, no assignment — each batch pays
   * only its own probe join. The union of the batch's probe lists (≤ nlist
   * values, collected driver-side) is pushed as a `list IN (...)` scan
   * predicate, so the range-clustered layout skips every file holding only
   * unprobed lists: per-batch read cost tracks `nprobe/nlist`, not corpus
   * size — the reuse story [[annTopK]]'s per-call build cannot offer.
   */
  def searchIndex(store: graft.store.TableStore, index: IvfIndex, queries: DataFrame,
      idCol: String, vecCol: String, k: Int, nprobe: Int = 6): DataFrame = {
    searchStored("searchIndex", store, index, queries, idCol, vecCol, k, nprobe,
      keepIdType = false, dot(col("qv"), col("cv")))
  }

  /** The persisted-index search both payloads share: the batch's probe
    * frame, the `list IN (...)`-pruned index read, and [[probeAndRank]]
    * under the payload's `score`. */
  private def searchStored(op: String, store: graft.store.TableStore, index: IvfIndex,
      queries: DataFrame, idCol: String, vecCol: String, k: Int, nprobe: Int,
      keepIdType: Boolean, score: Column): DataFrame = {
    // the probes frame (nlist dots + argsort per query) is built ONCE and
    // persisted: it feeds both the list-pruning collect and the probe join —
    // recomputing it per consumer would pay the quantizer scoring twice per
    // batch. Released by the consumer's Caches.unpersistAll like every
    // extension cache.
    val p = Caches.track(probes(index.centroids, queries, idCol, vecCol, nprobe))
    val lists = p.select("list").distinct().collect().map(_.getInt(0)) // ≤ nlist driver rows
    val c = store.read(index.table).filter(col("list").isin(lists.toIndexedSeq: _*))
    probeAndRank(op, c, p, k, keepIdType, score).select("query_id", "neighbor_id")
  }

  /**
   * Per-vector symmetric int8 scalar quantization — the standard IVF+SQ
   * compression step (4× smaller than float32; integer-SIMD dot products):
   * `scale = 127 / max|x_i|` (0 for the zero vector), `q_i =
   * floor(x_i·scale + 0.5)`. `floor(x+0.5)` instead of `round`: both
   * engines' doubles make it bit-identical, so the quantization is exactly
   * oracle-checkable. Pure per-row map, no shuffle. Returns
   * `(id, scale, qvec: array<bigint of int8 values>)`.
   *
   * Two projections on purpose: `scale` (whose `array_max` subtree is O(d))
   * is materialized as a column FIRST, and the quantizing lambda references
   * `col("scale")` — embedding the scale subtree inside the lambda would
   * re-evaluate the max per ELEMENT, an O(d²)-per-row tax that at real
   * embedding widths (1–4 k) costs 30–1000× (r3 verdict). The linear
   * behavior is measured at dim 1024 in BASELINE.md, "janino 64 KB find +
   * fix" (20 k vectors quantize in 0.26 s).
   */
  def quantizeInt8(emb: DataFrame, idCol: String, vecCol: String): DataFrame = {
    int8Quantized(emb, Seq(idCol), asDouble(col(vecCol)))
  }

  /** [[quantizeInt8]]'s formula over any double-vector column `v`, keeping
    * the `keys` columns: `(keys…, scale, qvec)`. */
  private def int8Quantized(df: DataFrame, keys: Seq[String], v: Column): DataFrame = {
    val maxAbs = array_max(transform(v, x => abs(x)))
    df.select(keys.map(col) :+ v.as("__v") :+
        when(maxAbs > 0, lit(127.0) / maxAbs).otherwise(lit(0.0)).as("scale"): _*)
      .select(keys.map(col) :+ col("scale") :+
        transform(col("__v"), x => floor(x * col("scale") + lit(0.5))).as("qvec"): _*)
  }

  /**
   * Embedding near-duplicate pairs: all `(id_a < id_b)` with cosine ≥
   * `threshold` — EXACT, but blocked through the IVF quantizer so no
   * full-corpus broadcast or O(n²) pair scan ever forms.
   *
   * Blocking with a recall GUARANTEE (threshold-aware probe/index
   * asymmetry): every vector is INDEXED under its single nearest list, and
   * PROBES every list whose centroid lies within angle `θ_best(v) + θ_t` of
   * it (`θ_best` = angle to its nearest centroid, `θ_t = arccos(threshold)`).
   * For any pair with `angle(a,b) ≤ θ_t`, take WLOG `θ_best(a) ≥ θ_best(b)`:
   * then `angle(a, c_best(b)) ≤ angle(a,b) + θ_best(b) ≤ θ_t + θ_best(a)`,
   * so `a` PROBES `b`'s INDEX list and the pair collides there. Candidates
   * are verified with the exact codegen'd dot product — zero false
   * positives, zero false negatives. Joining probes against the
   * one-entry-per-vector index (instead of probes × probes) cuts pair
   * evaluations by ~fan-out× — the probe side is wide, the index side is not.
   *
   * Scale shape: quantizer training is sample-bounded ([[trainCentroids]]);
   * assignment is a narrow map (`nlist` dots per row); pair expansion happens
   * only inside lists (one shuffle on list id, the join output streams
   * through the dot filter unmaterialized). Probe fan-out adapts to the
   * data: tight near-dup thresholds (0.8+) probe ~1 list; loose thresholds
   * widen the radius — raise `nlist` to keep lists small.
   *
   * EAGER in its input: `emb`'s lineage runs exactly ONCE per call, into
   * one [[Caches]]-tracked checkpoint of the narrow `(id, unit vector)`
   * frame (released by `Dedup.unpersistAll`); the optional √n count, the
   * quantizer sample and the angle cache all read that frame. At scale
   * that is one corpus-sized materialization of `8·dim` bytes a row, in
   * place of re-running the caller's upstream for each read.
   */
  def cosinePairs(emb: DataFrame, idCol: String, vecCol: String, threshold: Double,
      nlist: Int = 16, sampleSize: Int = 4096, seed: Long = 42L): DataFrame =
    ivfPairs(unitFrame(emb, idCol, vecCol), threshold, nlist, sampleSize, seed)

  /** The one materialization of a pair operator's input: `(id, v)` with
    * `v` unit-normalized, checkpointed once and released by
    * `Caches.unpersistAll` — every later read is a scan of its blocks, never
    * a re-run of the caller's lineage. */
  private def unitFrame(emb: DataFrame, idCol: String, vecCol: String): DataFrame =
    Caches.trackCheckpoint(unitized(emb, idCol, vecCol, "id", "v"))

  /** [[cosinePairs]] over a unit frame `u` (`id`, `v`) that is cheap to
    * re-read — a [[unitFrame]], or a projection of a checkpointed frame. */
  private def ivfPairs(u: DataFrame, threshold: Double, nlist: Int,
      sampleSize: Int = 4096, seed: Long = 42L): DataFrame = {
    // nlist <= 0 ⇒ ~√n lists (classic IVF sizing; one count() job). NB this
    // is NOT a universal win and is deliberately not the default: the r11
    // scale probe (BASELINE.md) measured √n-retuning 2–4× SLOWER than fixed
    // nlist=16 at threshold 0.45 on jittered embeddings — a wide threshold
    // (θ_t ≈ 63°) makes the probe radius cover most lists, so the probe
    // explode grows ∝ n×nlist while candidate pairs barely shrink. Retune
    // upward only for TIGHT thresholds (0.8+, probe fan-out ~1–2 lists),
    // where bigger nlist genuinely shrinks per-list pair products.
    val lists = if (nlist > 0) nlist else math.max(16, math.sqrt(u.count().toDouble).toInt)
    val cents = trainCentroids(u, "v", lists, sampleSize, seed)
    // clamp into acos' domain; +1e-9 absorbs float rounding at the boundary.
    // ONE codegen'd centroid_angles expression, NOT transform(sims, lambda)
    // (a higher-order lambda has no codegen and would force this whole
    // projection — including the nlist dim-d dot products per row — into
    // interpreted eval, see `unitized`) and NOT a CreateArray of per-
    // centroid acos(dot(...)) children (at nlist×dim ≈ 16×1024 that
    // generates past janino's 64 KB method limit and the stage silently
    // falls back to interpreted eval anyway — BASELINE.md, "janino 64 KB
    // find + fix")
    val angles = org.apache.spark.sql.graftx.VectorFunctions.centroid_angles(col("v"), cents)
    // cached: index and probe sides both project from this subtree
    // (Caches.unpersistAll releases it after the query is consumed)
    val withAngles = Caches.track(u.select(col("id"), col("v"), angles.as("__angles")))
    val radius = array_min(col("__angles")) +
      lit(math.acos(math.min(math.max(threshold, -1.0), 1.0)) + 1e-9)
    val probeLists = filter(
      transform(col("__angles"), (ang, i) => when(ang <= radius, i).otherwise(lit(-1))),
      x => x >= 0)
    val index = withAngles.select(
      (array_position(col("__angles"), array_min(col("__angles"))) - 1).cast("int").as("list"),
      col("id").as("id_i"), col("v").as("vi"))
    val probes = withAngles.select(col("id").as("id_p"), col("v").as("vp"),
      explode(probeLists).as("list"))
    // NB the probe fan-out is data-dependent: on well-clustered embeddings
    // it is ~1–2 lists; on near-random high-dim data θ_best is wide and
    // probes cover most lists, degrading toward the inherent near-O(n²)
    // cost of exact wide-threshold pair search (measured ~400 M candidate
    // evals at 20 k replicated random vectors). Raise `nlist` to shrink
    // per-list products, or use Skew.saltedJoin on "list" if a hot list
    // serializes (few-distinct-key join)
    probes.join(index, Seq("list"))
      .filter(col("id_p") =!= col("id_i") && dot(col("vp"), col("vi")) >= threshold)
      .select(least(col("id_p"), col("id_i")).as("id_a"),
        greatest(col("id_p"), col("id_i")).as("id_b"))
      .distinct()
  }

  /**
   * Embedding near-dup pairs via random-hyperplane (signed random
   * projection) LSH with EXACT re-verification — the wide-threshold scale
   * path [[cosinePairsRouted]] switches to where [[cosinePairs]]'s
   * exact-recall blocking goes super-linear (measured: 9.9 → 61.6 s for
   * 2× data past 20 k vectors at threshold 0.45, BASELINE.md r11 probe —
   * a wide threshold makes the triangle-inequality probe radius cover
   * most IVF lists, so candidates degrade toward all-pairs regardless of
   * `nlist`).
   *
   * Scheme (public SimHash/SRP literature): `bands × rowsPerBand` random
   * hyperplanes (seeded Gaussian, driver-side); each vector's sign bits
   * are packed per band into one bucket key; ids colliding in ANY band
   * become candidates ([[graft.ext.Dedup.bucketPairs]] — one shuffle per
   * frame, pair expansion only inside buckets); candidates are verified
   * with the exact codegen'd dot product. ZERO false positives, always.
   *
   * Recall contract (the per-regime honesty [[cosinePairs]]'s exact
   * guarantee is traded for): a pair at angle θ collides per bit with
   * `p = 1 − θ/π`, so `P(candidate) = 1 − (1 − p^rowsPerBand)^bands`.
   * With the 12×12 default: ~1.0 at cos ≥ 0.99 (near-dup replicas), 0.87
   * at cos 0.9, decaying toward zero near a wide threshold like 0.45 —
   * by design: near-random moderate-similarity pairs are exactly the
   * candidate mass that makes the exact path quadratic. Raise `bands`
   * (more recall, more candidate cost) or `rowsPerBand` (less of both)
   * to move the knee; the bit cost is `bands × rowsPerBand` dot products
   * per row, one narrow map, no shuffle.
   *
   * AUTO-SHARPENING (r18, on by default): a dense corpus — clustered
   * embeddings, replicated shards — can pack enough moderately-similar
   * vectors into one band bucket to blow the pair budget at the caller's
   * band shape (the r17 30× marathon refused here by design). Before
   * expanding anything, the candidate count is ESTIMATED from per-bucket
   * sizes (one count-aggregation, no pairs form); while it exceeds
   * `pairBudget` the scheme escalates through sharper shapes (the
   * caller's own shape is kept whenever its estimate fits `pairBudget`;
   * escalating rungs aim at the tighter `pairBudget/4` so a forced
   * escalation lands well under the refusal line) — more bits
   * per band fragments moderate-similarity buckets sharply, and more
   * bands compensate the near-dup band's recall (12×12 → … → 20×28 keeps
   * P(candidate | cos ≥ 0.99) ≥ 0.99 at every step, since
   * p = 1−θ/π ≈ 0.955 there). Only if the SHARPEST shape still exceeds
   * the budget does [[graft.ext.Dedup.bucketPairs]] refuse loudly — at
   * that point the collisions are genuine near-dups and the output itself
   * would be pair-budget-sized. Pass `autoSharpen = false` to pin the
   * caller's exact shape (the recall-contract gate does, so its planted
   * band curve stays the documented 12×12 one).
   *
   * EAGER in its input: `emb`'s lineage runs exactly ONCE per call, into
   * the same checkpointed `(id, unit vector)` frame as [[cosinePairs]];
   * one aggregate over it yields the row count and the dimension, and the
   * ladder's estimates and both verify sides read it.
   */
  def cosinePairsLsh(emb: DataFrame, idCol: String, vecCol: String, threshold: Double,
      bands: Int = 12, rowsPerBand: Int = 12, seed: Long = 42L,
      pairBudget: Long = graft.ext.Dedup.DefaultPairBudget,
      autoSharpen: Boolean = true): DataFrame = {
    require(bands > 0 && rowsPerBand > 0 && rowsPerBand <= 62,
      s"bands/rowsPerBand must be positive (rowsPerBand <= 62): $bands x $rowsPerBand")
    lshPairs(unitFrame(emb, idCol, vecCol), threshold, bands, rowsPerBand, seed,
      pairBudget, autoSharpen)
  }

  /** `(rows, dim)` of a unit frame in ONE aggregate; an empty frame is
    * refused by `op`'s name. */
  private def unitShape(u: DataFrame, op: String): (Long, Int) = {
    val r = u.agg(count(lit(1)), max(size(col("v")))).head()
    require(r.getLong(0) > 0, s"$op: empty corpus")
    (r.getLong(0), r.getInt(1))
  }

  /** [[cosinePairsLsh]] over a unit frame `u` (`id`, `v`) that is cheap to
    * re-read (see [[ivfPairs]]). */
  private def lshPairs(u: DataFrame, threshold: Double, bands: Int, rowsPerBand: Int,
      seed: Long, pairBudget: Long, autoSharpen: Boolean): DataFrame = {
    val (rows, dim) = unitShape(u, "cosinePairsLsh")
    // per-band bucket keys: rowsPerBand sign bits packed into a long, then
    // mixed with the band ordinal so bands never collide with each other —
    // ONE codegen'd sign_band_keys expression (the plane matrix travels as
    // a single plan reference; the previous bands x rowsPerBand inline
    // when(dot(...)) block overflowed janino's 64 KB method limit at
    // 144 planes and silently ran interpreted — BASELINE.md, "janino 64 KB
    // find + fix")
    def keyedFor(b: Int, r: Int): DataFrame = signBandKeyed(u, dim, b, r, seed)
    def estPairs(keyed: DataFrame): Long = estBucketPairs(keyed)
    // Ladder recall math (P(candidate | cos >= 0.99), p = 1 − θ/π ≈ 0.955
    // there): every rung keeps 1 − (1 − p^r)^b ≥ 0.99. The r18 ladder
    // topped out at +10/+20 (22×32 from the 12×12 default, 0.9967); the
    // r20 100× probe found that rung saturating on clustered corpora
    // (200k vectors at τ=0.45 → 171M candidates of which ~0 are true
    // pairs — sign-structure collisions, not output), so two deeper rungs
    // follow: 40×48 (p^48 ≈ 0.110 → 0.9905) cuts a cos-0.9 bucket's
    // collision rate ~12× over 32 bits, and 78×62 (p^62 ≈ 0.058 →
    // 0.9903) is the 62-bit packing ceiling. Deeper rungs cost more
    // projections per row (40×48 = 1920 dots, linear, no shuffle) but
    // only run when every earlier rung over-budgets — the probe that
    // engages them is still one count-aggregation per rung, no pairs.
    val ladder =
      if (!autoSharpen || pairBudget <= 0) Seq((bands, rowsPerBand))
      else (Seq((bands, rowsPerBand), (bands + 2, rowsPerBand + 4),
        (bands + 4, rowsPerBand + 8), (bands + 6, rowsPerBand + 12),
        (bands + 8, rowsPerBand + 16), (bands + 10, rowsPerBand + 20))
        .map { case (b, r) => (b, math.min(r, 62)) }) ++
        Seq((math.max(bands + 28, 40), 48), (math.max(bands + 66, 78), 62))
    // the caller's own shape WINS whenever its estimate fits pairBudget —
    // sharpening it further would silently trade away moderate-similarity
    // recall the caller sized for (r18 ADVICE fix: the old code escalated
    // past a fitting caller shape toward pairBudget/4). Only once the
    // caller's shape is over budget does the ladder engage, and THERE the
    // tighter pairBudget/4 target applies (verification cost tracks the
    // CANDIDATE count, so an escalating rung aims well under the refusal
    // line); first rung under the budget itself is the fallback, then the
    // sharpest rung (bucketPairs still enforces the hard refusal)
    val keyed: DataFrame =
      if (ladder.size == 1) keyedFor(bands, rowsPerBand)
      else {
        val tightTarget = math.max(1L, pairBudget / 4)
        var fallback: Option[(Int, Int, DataFrame)] = None
        var pick: Option[(Int, Int, DataFrame)] = None
        var last: Option[(Int, Int, DataFrame)] = None
        // the 62-bit clamp can collapse the top rungs to one shape —
        // dedupe so a shape is never estimated twice (r18 review fix)
        val it = ladder.distinct.iterator
        var first = true
        while (pick.isEmpty && it.hasNext) {
          val (b, r) = it.next()
          val k = keyedFor(b, r)
          last = Some((b, r, k))
          val est = estPairs(k)
          val target = if (first) pairBudget else tightTarget
          if (est <= target) pick = Some((b, r, k))
          else if (est <= pairBudget && fallback.isEmpty) fallback = Some((b, r, k))
          first = false
        }
        val fits = pick.orElse(fallback)
        val (b, r, k) = fits.orElse(last).get
        if (b != bands || r != rowsPerBand)
          System.err.println(
            if (fits.nonEmpty)
              s"[graft] cosinePairsLsh: sharpened bands $bands x $rowsPerBand " +
                s"-> $b x $r to fit the $pairBudget pair budget"
            else
              s"[graft] cosinePairsLsh: NO band shape up to $b x $r fits the " +
                s"$pairBudget pair budget — the collisions are genuine near-dups; " +
                "proceeding to the loud budget refusal")
        k
      }
    val candidates = graft.ext.Dedup.bucketPairs(keyed, "bucket", "id", pairBudget)
    // Verification fetches both vectors per candidate pair. The candidate
    // set is the BIG side (buckets × pairs, many× the corpus), so joining it
    // against the corpus with the default strategy shuffles millions of
    // candidate rows twice. When the normalized corpus fits an executor
    // (rows × dim × 8 B — vec_normalize yields array<double> — fudged 2×
    // for row overhead, under 64 MB) broadcast the vector sides instead:
    // the candidate set never moves, each partition streams once against
    // the in-memory id→vector map. Past the gate (100 TB corpora) the
    // shuffle join is the only correct shape and AQE picks the strategy
    // from runtime sizes.
    val corpusBytes = rows * dim * 8L * 2L
    def sized(df: DataFrame) = if (corpusBytes <= (64L << 20)) broadcast(df) else df
    val va = sized(u.select(col("id").as("doc_a"), col("v").as("va")))
    val vb = sized(u.select(col("id").as("doc_b"), col("v").as("vb")))
    candidates.join(va, "doc_a").join(vb, "doc_b")
      .filter(dot(col("va"), col("vb")) >= threshold)
      .select(col("doc_a").as("id_a"), col("doc_b").as("id_b"))
  }

  /** Per-band bucket keys for a unitized `(id, v)` frame at shape
    * `b × r` under `seed` — the ONE primitive [[cosinePairsLsh]]'s ladder
    * and [[lshCandidateEstimate]] share, so an external estimate can never
    * drift from the operator's own bucketing. `rowsPerBand` sign bits pack
    * into a long mixed with the band ordinal (bands never collide); one
    * codegen'd `sign_band_keys` expression — the plane matrix travels as a
    * single plan reference (the r15 janino 64 KB find). */
  private def signBandKeyed(u: DataFrame, dim: Int, b: Int, r: Int,
      seed: Long): DataFrame = {
    val rnd = new scala.util.Random(seed)
    val planes = Array.fill(b * r)(Array.fill(dim)(rnd.nextGaussian()))
    val bandKeys = org.apache.spark.sql.graftx.VectorFunctions.sign_band_keys(
      col("v"), planes, b, r)
    u.select(col("id"), explode(bandKeys).as("bucket"))
  }

  /** Σ c·(c−1)/2 over band-bucket sizes — the same candidate estimate
    * `bucketPairs` guards on, computed WITHOUT forming pairs (ids are
    * distinct per band-bucket, so a plain count is the bucket size). */
  private def estBucketPairs(keyed: DataFrame): Long = keyed
    .groupBy("bucket").agg(count(lit(1)).as("__c")).filter(col("__c") > 1)
    .agg(coalesce(sum(col("__c") * (col("__c") - 1L)), lit(0L)))
    .head().getLong(0) / 2

  /**
   * The candidate-pair estimate [[cosinePairsLsh]] would compute for
   * `emb` at band shape `bands × rowsPerBand` under `seed` — built from
   * the operator's OWN bucketing primitive, so the number matches the
   * internal ladder's first-rung estimate exactly. Public so a
   * certification gate can assert its forcing premise at runtime (the
   * `dedup_cosine_lsh_sharpen` gate emits a violation row when the
   * caller-shape estimate no longer exceeds the budget it was sized to
   * blow — without this, a fixture drift would leave the ladder
   * unexercised and the gate silently vacuous). Like the operator, it runs
   * `emb`'s lineage once, into the checkpointed unit frame.
   */
  def lshCandidateEstimate(emb: DataFrame, idCol: String, vecCol: String,
      bands: Int = 12, rowsPerBand: Int = 12, seed: Long = 42L): Long = {
    require(bands > 0 && rowsPerBand > 0 && rowsPerBand <= 62,
      s"bands/rowsPerBand must be positive (rowsPerBand <= 62): $bands x $rowsPerBand")
    val u = unitFrame(emb, idCol, vecCol)
    val (_, dim) = unitShape(u, "lshCandidateEstimate")
    estBucketPairs(signBandKeyed(u, dim, bands, rowsPerBand, seed))
  }

  /**
   * Threshold- and scale-aware pair search router — the operator form of
   * the measured regimes (BASELINE.md r11/r12 probes):
   *
   *  - TIGHT thresholds (≥ `tightThreshold`, default 0.8): the exact
   *    [[cosinePairs]] blocking probes ~1–2 lists and stays near-linear at
   *    any measured scale → exact recall for free; always routed there.
   *  - WIDE thresholds on a SMALL corpus (≤ `exactMaxRows`, default 20 k —
   *    the measured crossover: exact ran 9.9 s at 20 k but 61.6 s at 40 k):
   *    still exact; the quadratic term hasn't bitten yet.
   *  - WIDE thresholds at scale: [[cosinePairsLsh]] — candidates from
   *    banded sign-bit collisions instead of an exact-recall probe radius
   *    that covers most lists. Zero false positives (exact verification);
   *    recall follows the band curve (≈1 for near-dup pairs, decaying for
   *    moderate-similarity pairs — see [[cosinePairsLsh]]).
   *
   * One `count()` job decides the size regime (skipped for tight
   * thresholds). Returns `(id_a < id_b)` pairs in every regime.
   *
   * EAGER in its input: `emb`'s lineage runs exactly ONCE per call, into
   * the checkpointed `(id, unit vector)` frame of [[cosinePairs]]; the
   * regime count and whichever pair search it picks read that frame.
   */
  def cosinePairsRouted(emb: DataFrame, idCol: String, vecCol: String, threshold: Double,
      nlist: Int = 16, exactMaxRows: Long = 20000L, tightThreshold: Double = 0.8,
      bands: Int = 12, rowsPerBand: Int = 12, seed: Long = 42L): DataFrame =
    routedPairs(unitFrame(emb, idCol, vecCol), threshold, nlist, exactMaxRows,
      tightThreshold, bands, rowsPerBand, seed)

  /** [[cosinePairsRouted]] over a unit frame `u` (`id`, `v`) that is cheap
    * to re-read (see [[ivfPairs]]). */
  private def routedPairs(u: DataFrame, threshold: Double, nlist: Int, exactMaxRows: Long,
      tightThreshold: Double = 0.8, bands: Int = 12, rowsPerBand: Int = 12,
      seed: Long = 42L): DataFrame =
    if (threshold >= tightThreshold || u.count() <= exactMaxRows)
      ivfPairs(u, threshold, nlist, seed = seed)
    else lshPairs(u, threshold, bands, rowsPerBand, seed, graft.ext.Dedup.DefaultPairBudget,
      autoSharpen = true)

  /**
   * Semantic dedup (the SemDeDup shape, Abbas et al. 2023,
   * arXiv:2303.09540): collapse groups of semantically near-identical
   * documents — detected in EMBEDDING space, so paraphrases and
   * templated rewrites that share no n-grams still cluster — to one
   * representative each, chosen by a caller-supplied quality ordering.
   *
   * Composition of three operators already pinned individually:
   * [[cosinePairs]] (exact cosine ≥ `threshold`, IVF-blocked — the
   * candidate restriction SemDeDup gets from its k-means clusters, here
   * with exact recall instead of cluster-boundary blindness) →
   * [[graft.ext.Dedup.connectedComponents]] (pairwise hits → duplicate
   * groups) → [[graft.ext.Dedup.keepBest]] (one winner per group under
   * `ordering`, singletons pass through untouched, the corpus itself
   * never shuffles).
   *
   * `emb` carries the id, the vector, AND whatever quality columns
   * `ordering` ranks by (pre-join them; the fixture gate ranks by the
   * document's `n_chars`). `ordering` must be total — tie-break on the
   * id — for a deterministic survivor set. Returns the surviving rows of
   * `emb` with its full schema.
   *
   * EAGER like [[graft.ext.Dedup.connectedComponents]] (convergence
   * detection runs jobs at call time); compute once and reuse. `emb`'s
   * lineage runs exactly ONCE per call: `emb` — every column of it — is
   * checkpointed once ([[Caches]]-tracked, released by
   * `Dedup.unpersistAll`), and the quantizer sample, the unit vectors and
   * their angles, and the keep-best survivors all read that one frame.
   *
   * Scale: pair formation is IVF-blocked (near-dup thresholds probe ~1–2
   * lists), components contract in O(log) rounds, and keep-best
   * broadcasts only cluster MEMBERS — at 100 TB the corpus-sized frames
   * move through exactly one keyed shuffle (the pair join), never a
   * window over the full corpus. The price of the single input run is
   * one materialization of `emb`, in place of four runs of the caller's
   * corpus-wide upstream (dimension probe, quantizer sample, angle cache,
   * survivors). For
   * wide thresholds at scale route the pair step through
   * [[cosinePairsRouted]] yourself and feed the pairs to
   * `connectedComponents`/`keepBest` directly.
   */
  def semanticDedup(emb: DataFrame, idCol: String, vecCol: String, threshold: Double,
      ordering: Seq[Column], nlist: Int = 16): DataFrame =
    dedupOnce(emb, idCol, vecCol, ordering)(ivfPairs(_, threshold, nlist))

  /** The semantic-dedup composition over ONE materialization of `emb`:
    * `pairsOf` searches the unit projection of the checkpoint (a cheap
    * map over its blocks), and keep-best selects survivors from the same
    * checkpoint. */
  private def dedupOnce(emb: DataFrame, idCol: String, vecCol: String,
      ordering: Seq[Column])(pairsOf: DataFrame => DataFrame): DataFrame = {
    val m = Caches.trackCheckpoint(emb)
    val pairs = pairsOf(unitized(m, idCol, vecCol, "id", "v"))
    Dedup.keepBest(m, Dedup.connectedComponents(pairs, "id_a", "id_b"), idCol, ordering)
  }

  /**
   * [[semanticDedup]] with the pair step behind [[cosinePairsRouted]] —
   * the form the gate pins (r17 verdict: the gated plan must be the one
   * that survives 100×). Below the router's exact crossover (tight
   * threshold, or ≤ `exactMaxRows` vectors) this IS the exact operator,
   * pair for pair; past it the near-dup pairs come from the banded LSH
   * path (zero false positives, band-curve recall — see
   * [[cosinePairsLsh]]) and the components/keep-best stages are unchanged.
   *
   * EAGER, and like [[semanticDedup]] runs `emb`'s lineage exactly ONCE per
   * call: the router's count, the dimension, the quantizer sample, the unit
   * vectors and angles (or LSH band keys) and the keep-best survivors all
   * read the one checkpoint of `emb`.
   */
  def semanticDedupRouted(emb: DataFrame, idCol: String, vecCol: String,
      threshold: Double, ordering: Seq[Column], nlist: Int = 16,
      exactMaxRows: Long = 20000L): DataFrame =
    dedupOnce(emb, idCol, vecCol, ordering)(routedPairs(_, threshold, nlist, exactMaxRows))

  /**
   * Hard-negative mining — the contrastive-retrieval training shape (DPR,
   * Karpukhin et al. 2020: the best negatives are the most similar
   * NON-duplicates): for each query vector, the top-`k` most cosine-similar
   * corpus vectors EXCLUDING the query's own near-dup cluster. A plain
   * [[topK]] would surface the paraphrases/duplicates themselves — the
   * one thing a negative must never be (a false negative poisons the
   * contrastive loss) — so exclusion must happen BEFORE the rank, not by
   * post-filtering the top-k (which would return fewer than `k`).
   *
   * Composition: exact [[cosinePairs]] at `dupThreshold` → connected
   * components → the cluster-mate pair set (membership² within clusters —
   * tiny, size-gated broadcast); the scored query×corpus frame anti-joins
   * the mates and ranks what's left via the bounded map-side
   * [[topKPerQuery]]. EAGER like every components consumer, and the
   * corpus lineage runs exactly ONCE per call: the checkpointed
   * `(id, unit vector)` frame of [[cosinePairs]] feeds both the pair search
   * and the scored grid.
   */
  def hardNegatives(corpus: DataFrame, queries: DataFrame, idCol: String,
      vecCol: String, k: Int, dupThreshold: Double, nlist: Int = 16): DataFrame = {
    val u = unitFrame(corpus, idCol, vecCol)
    negativesFromPairs(ivfPairs(u, dupThreshold, nlist), u, queries, idCol, vecCol, k)
  }

  /**
   * [[hardNegatives]] with duplicate detection behind [[cosinePairsRouted]]
   * — the gated form (r17 verdict: the brute-force query×corpus regime was
   * the marathon's worst scale-killer at 196×, and the quadratic term is
   * the wide-threshold pair search, not the |Q|×|C| scoring, which stays
   * linear in the corpus for a bounded query set). Below the router's
   * exact crossover this is bit-identical to [[hardNegatives]]; past it
   * the excluded cluster-mates come from the banded LSH path (zero false
   * positives; a band-curve-missed moderate-similarity mate can re-enter
   * the negative pool — the documented trade). Reads the corpus lineage
   * once, as [[hardNegatives]] does.
   */
  def hardNegativesRouted(corpus: DataFrame, queries: DataFrame, idCol: String,
      vecCol: String, k: Int, dupThreshold: Double, nlist: Int = 16,
      exactMaxRows: Long = 20000L): DataFrame = {
    val u = unitFrame(corpus, idCol, vecCol)
    negativesFromPairs(routedPairs(u, dupThreshold, nlist, exactMaxRows), u, queries,
      idCol, vecCol, k)
  }

  /** Hard negatives from dup `pairs` over the materialized unit corpus `u`. */
  private def negativesFromPairs(pairs: DataFrame, u: DataFrame,
      queries: DataFrame, idCol: String, vecCol: String, k: Int): DataFrame = {
    val clusters = Dedup.connectedComponents(pairs, "id_a", "id_b")
    val mates = graft.ops.Ops.hintIfSmall(
      clusters.as("a").join(clusters.as("b"), col("a.cluster") === col("b.cluster"))
        .select(col("a.node").as("query_id"), col("b.node").as("neighbor_id")))
    topKPerQuery("hardNegatives", unitGrid(u, queries, idCol, vecCol)
        .join(mates, Seq("query_id", "neighbor_id"), "left_anti"), k, keepIdType = false)
      .select("query_id", "neighbor_id")
  }

  /**
   * Size-routed bitext mining: the exact |A|×|B| grid ([[bitextMarginMine]])
   * while both sides fit `exactMaxRows`, the IVF-pooled composition
   * ([[bitextMarginMinePooled]]) past it. Below the crossover the result is
   * bit-identical to the exact operator (same code path); past it recall
   * follows probe quality and the margins use actual pool sizes.
   *
   * Pooled sizing is the FAISS-style deep-quantizer regime: `nlist ≈ 4√n`
   * with a FIXED probe count (`nprobe = 32`), not a fixed probe FRACTION.
   * The distinction is the scale law — candidate volume per query is
   * `nprobe·n/nlist`, so a fixed fraction (`nprobe ∝ nlist`) keeps total
   * work at `f·n²` no matter how nlist is tuned, while fixed-nprobe over a
   * `√n` quantizer is `O(n^1.5)` total — up to the 4096-list ceiling
   * (n ≈ 1 M per side), past which the driver-trained quantizer stops
   * deepening and the path degrades gracefully back toward `n²/128`
   * candidate volume (still 8× under the old sizing's `n²/16`; corpora
   * past the ceiling want a distributed-trained quantizer, which this
   * driver-side k-means deliberately is not). It is also the measured
   * recall winner, not just the cheaper point: on the 30k×30k replica
   * frontier (r20 sizing table in BASELINE.md) the old `√n`-lists/1-16th-fraction
   * sizing mined 43% of the exact grid's pairs at a 5.8% probe fraction,
   * while `4√n`-lists/nprobe-32 mined 62% at 4.6% — finer lists waste
   * less of the probe budget on far-field vectors, so the deeper
   * quantizer wins both axes at once.
   *
   * The training sample scales with the quantizer (`≥ 8 vectors per
   * centroid`, capped at 32 k draws): a fixed 4096-draw sample would hand
   * a 4096-list quantizer ONE point per centroid — random-sample
   * centroids, not k-means — silently voiding the measured frontier.
   * `sampleSize` is therefore a FLOOR, raised to `8·nlist` when the
   * corpus-derived nlist outgrows it (measured at 100k×100k: the scaled
   * sample's NN1 recall beats the fixed-4096 quantizer's, see the r20
   * sizing table in BASELINE.md).
   */
  def bitextMarginMineRouted(a: DataFrame, b: DataFrame, idCol: String,
      vecCol: String, k: Int = 4, exactMaxRows: Long = 20000L,
      sampleSize: Int = 4096, seed: Long = 42L): DataFrame = {
    val n = math.max(a.count(), b.count())
    if (n <= exactMaxRows) bitextMarginMine(a, b, idCol, vecCol, k)
    else {
      val (nlist, nprobe, sample) = bitextPooledSizing(n, sampleSize)
      bitextMarginMinePooled(a, b, idCol, vecCol, k, nlist, nprobe, sample, seed)
    }
  }

  /** [[bitextMarginMineRouted]]'s pooled sizing `(nlist, nprobe, sample)`
    * for `n` rows on the larger side: `nlist = 4√n` in [16, 4096], a fixed
    * probe count of 32, and the training-sample floor `sampleSize` raised
    * to 8 draws per centroid, capped at 32 k. */
  private[graft] def bitextPooledSizing(n: Long, sampleSize: Int): (Int, Int, Int) = {
    val nlist = math.min(4096L, math.max(16L, 4L * math.sqrt(n.toDouble).toLong)).toInt
    (nlist, math.min(nlist, 32), math.min(32768, math.max(sampleSize, 8 * nlist)))
  }
}
