package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/**
 * Deduplication operators for training-data pipelines (SURVEY.md §2.12):
 * exact key dedup, exact n-gram Jaccard similarity join (prefix-filtered),
 * MinHash+LSH near-dup detection, and SimHash. All shuffles are on
 * shingle/band/bucket keys — the natural partitioning for a cluster run —
 * and no operator ever materializes pairs that cannot pass the threshold
 * (prefix filtering / band blocking), which is what keeps the pair space
 * tractable when the corpus is 10^9 documents instead of 10^3.
 */
object Dedup {

  /** Release the caches created by extension plan builders ON THIS THREAD
    * since the last call (kept here as the public entry point Bench/Verify
    * use). Thread-scoped so parallel queries in a shared session cannot
    * release each other's in-flight caches — see [[Caches]]. */
  def unpersistAll(): Unit = Caches.unpersistAll()

  /** Release ALL threads' builder caches — session teardown / suite cleanup. */
  def unpersistEverything(): Unit = Caches.unpersistEverything()

  /** Exact dedup: keep the lowest-`idCol` row per duplicate-key group
    * (deterministic winner, unlike `dropDuplicates`). Hash shuffle on the
    * key columns; map-side combine-free but single pass. */
  def exact(df: DataFrame, keys: Seq[String], idCol: String): DataFrame = {
    val w = Window.partitionBy(keys.map(col): _*).orderBy(col(idCol))
    // collision-probed temp name: a hardcoded "__rn" would silently destroy
    // a caller column of that name before dropping it
    val rn = graft.ops.Ops.freshName(df.columns.toSet, "__rn")
    df.withColumn(rn, row_number().over(w)).filter(col(rn) === 1).drop(rn)
  }

  /** The repo-wide content fingerprint (the `dedup_fingerprint` oracle
    * contract): md5 of the space-joined sorted distinct whitespace tokens.
    * NULL text propagates to a NULL fingerprint — matching the DuckDB
    * formula, where the split of NULL chains through to NULL — instead of
    * colliding with the empty document's hash. Shared by every
    * fingerprint-based operator so the formula cannot silently fork. */
  def contentFingerprint(text: Column): Column =
    when(text.isNotNull,
      md5(concat_ws(" ", array_sort(array_distinct(TextAnalysis.tokens(text))))))

  /** Benchmark decontamination — the training-data step that removes
    * evaluation contamination: drop every corpus document sharing at least
    * `minOverlap` distinct word n-gram shingles with ANY blocklisted
    * document. The blocklist is benchmark-sized (thousands of docs) while
    * the corpus is the 100 TB side, so the plan broadcasts the distinct
    * blocklist shingles; the corpus explodes its shingles once, semi-joins
    * against the broadcast, counts matches per doc, and anti-joins the
    * contaminated ids away — the corpus shuffles only (id, 1) pairs for
    * the count, never text. */
  def decontaminate(docs: DataFrame, blocklist: DataFrame, idCol: String,
      textCol: String, n: Int = 3, minOverlap: Int = 1): DataFrame = {
    require(minOverlap >= 1, s"minOverlap must be >= 1: $minOverlap")
    // hashed shingles (8-byte grams, overlap identical modulo 64-bit
    // collisions — the hashedShingleSets contract), and BOTH shingle frames
    // persisted before explode: Generate re-evaluates its child expression
    // per emitted element, so exploding the raw HOF-built array re-runs the
    // whole shingle-construction subtree once per shingle (the same
    // deferred-evaluation trap as the IVF probe join — materialize first).
    val blockSh = Caches.track(hashedShingleSets(blocklist, idCol, textCol, n))
      .select(explode(col("hs")).as("__g")).distinct()
    val docSh = Caches.track(hashedShingleSets(docs, idCol, textCol, n))
      .select(col(idCol), explode(col("hs")).as("__g"))
    val contaminated = docSh.join(broadcast(blockSh), Seq("__g"), "left_semi")
      .groupBy(idCol).agg(count(lit(1)).as("__hits"))
      .filter(col("__hits") >= minOverlap)
      .select(idCol)
    docs.join(contaminated, Seq(idCol), "left_anti")
  }

  /**
   * Cross-source contamination matrix — the data-governance report a
   * multi-source corpus needs before mixing: for every overlapping source
   * pair, how many distinct n-gram shingles they share and the Jaccard of
   * their shingle sets. High off-diagonal mass means two "independent"
   * sources are re-crawls/mirrors of each other — double-weighting one
   * corpus while claiming diversity (and silently leaking one source's
   * held-out split into another's train split).
   *
   * Pipeline: hashed shingle sets ([[hashedShingleSets]], persisted before
   * the explode — the Generate re-evaluation trap), distinct
   * `(source, gram)` pairs, then a gram-keyed self-join with `src_a <
   * src_b`: per gram the fan-out is bounded by #sources², so the join is
   * shingle-keyed shuffle work, never corpus × corpus. Totals are
   * source-cardinality and broadcast back. Jaccard is an exact
   * integer-over-integer division (bit-identical cross-engine, the
   * [[jaccard]] contract). Only overlapping pairs are emitted — an absent
   * pair IS the zero. NULL-text docs contribute no grams.
   */
  def sourceOverlapMatrix(docs: DataFrame, sourceCol: String, idCol: String,
      textCol: String, n: Int = 3): DataFrame = {
    require(n >= 1, s"shingle width must be >= 1: $n")
    val nn = docs.filter(col(textCol).isNotNull)
    val sh = Caches.track(hashedShingleSets(nn, idCol, textCol, n))
    val sg = Caches.track(
      sh.join(nn.select(col(idCol), col(sourceCol).as("__srca")), Seq(idCol))
        .select(col("__srca"), explode(col("hs")).as("__g")).distinct())
    val totals = sg.groupBy(col("__srca")).agg(count(lit(1)).as("__tot"))
    val b = sg.toDF("__srcb", "__gb")
    val common = sg.join(b,
        col("__g") === col("__gb") && col("__srca") < col("__srcb"))
      .groupBy(col("__srca"), col("__srcb")).agg(count(lit(1)).as("n_common"))
    common
      .join(graft.ops.Ops.hintIfSmall(totals), Seq("__srca"))
      .withColumnRenamed("__tot", "__ta")
      .join(graft.ops.Ops.hintIfSmall(
        totals.toDF("__srcb", "__tb")), Seq("__srcb"))
      .select(col("__srca").as("source_a"), col("__srcb").as("source_b"),
        col("__ta").as("n_grams_a"), col("__tb").as("n_grams_b"),
        col("n_common"),
        (col("n_common").cast("double") /
          (col("__ta") + col("__tb") - col("n_common")).cast("double"))
          .as("jaccard"))
  }

  /** Exact Jaccard over two distinct shingle arrays — integer-over-integer
    * division, bit-identical with the DuckDB oracle's
    * `len(list_intersect)/len(list_distinct(a||b))`. */
  def jaccard(a: Column, b: Column): Column =
    size(array_intersect(a, b)).cast("double") / size(array_union(a, b)).cast("double")

  /** Shingle sets hashed to SORTED distinct `array<bigint>`. Tokens are
    * hashed once (`xxhash64`), then each n-gram shingle is the hash of its
    * n token hashes — no shingle strings are ever materialized, which makes
    * this ~3× cheaper than hashing `concat_ws` shingles. All candidate
    * generation and Jaccard verification runs on these: long keys shuffle
    * and compare far cheaper than strings, and sortedness lets
    * [[org.apache.spark.sql.graftx.SortedIntersectCount]] verify pairs in
    * one codegen'd merge pass. Set semantics (and so Jaccard) are identical
    * to string shingles modulo 64-bit collisions — negligible below ~2^32
    * distinct shingles (birthday bound); switch to a 128-bit hash beyond. */
  def hashedShingleSets(docs: DataFrame, idCol: String, textCol: String, n: Int): DataFrame = {
    val t = TextAnalysis.tokens(col(textCol))
    // separate projection so token hashes are computed once, not per shingle
    val tokenHashes = docs.select(col(idCol), transform(t, tok => xxhash64(tok)).as("th"))
    val th = col("th")
    tokenHashes
      .select(col(idCol), array_sort(array_distinct(gramHashes(th, size(th), n))).as("hs"))
      .withColumn("sz", size(col("hs")))
  }

  /** The shingle family's one gram hash, over a token-hash array `th` of
    * `nt` elements: the gram at start position `i` is the `xxhash64` of the
    * `n` token hashes `th[i+1..i+n]`, one per position in order; a doc
    * shorter than `n` tokens is its one whole-doc shingle `xxhash64(th)`.
    * Callers project `th` themselves, in its own projection referenced
    * more than once, so CollapseProject cannot re-inline the tokenize+hash
    * subtree into every gram. */
  private[ext] def gramHashes(th: Column, nt: Column, n: Int): Column =
    when(nt >= n, transform(sequence(lit(0), nt - n),
        i => xxhash64((1 to n).map(k => element_at(th, i + lit(k))): _*)))
      .otherwise(array(xxhash64(th)))

  /** Default candidate-pair budget for [[bucketPairs]]: 10⁸ expansions is
    * far above any blocking scheme working as designed at gate/smoke
    * scales, and far below the ~n² a degenerated scheme (mis-threshold,
    * collapsed keys) would silently pay before anyone noticed. */
  val DefaultPairBudget: Long = 100000000L

  /**
   * All id pairs `(doc_a < doc_b)` sharing a key: group ids per key (ONE
   * shuffle) and expand pairs inside each posting list with higher-order
   * functions — no self-join, so the (expensive) upstream plan that produced
   * `(key, id)` is computed once instead of twice. Buckets here are
   * blocking-scheme buckets (prefix shingles, LSH bands, SimHash segments),
   * which are small by construction; a pathologically hot bucket signals
   * the blocking scheme itself needs tuning (more bands / longer prefixes,
   * a tighter threshold), not this expansion.
   *
   * Which is what `pairBudget` enforces: before ANY pair exists, one cheap
   * aggregation over the (persisted) posting lists estimates the exact
   * candidate-expansion count `Σ |bucket|·(|bucket|−1)/2` and REFUSES
   * loudly — with the estimate, the hottest bucket, and the knobs to turn
   * — when it exceeds the budget. A mis-tuned wide-threshold run thus
   * fails in seconds instead of discovering its ~n² output by paying for
   * it (the r16 30× probe showed the output-bound regime is real: pair
   * output grew ~900× across two decades). `pairBudget = 0` opts out.
   * When the budget is active the grouped frame is persisted (released by
   * [[unpersistAll]]), so the estimate costs one small agg job, not a
   * second shuffle of `keyed`; under the opt-out there is a single
   * consumer and nothing is cached.
   */
  def bucketPairs(keyed: DataFrame, keyCol: String, idCol: String,
      pairBudget: Long = DefaultPairBudget): DataFrame = {
    require(pairBudget >= 0, s"pairBudget must be >= 0 (0 = no budget): $pairBudget")
    // persist only when the budget check adds a second consumer: under the
    // opt-out (pairBudget = 0) the grouped frame has exactly one reader,
    // and those are precisely the intentionally-huge expansions where a
    // MEMORY_AND_DISK copy of the posting lists is pure overhead
    val grouped0 = keyed.groupBy(keyCol)
      .agg(array_sort(collect_set(col(idCol))).as("ids"))
      .filter(size(col("ids")) > 1)
    val grouped = if (pairBudget > 0) Caches.track(grouped0) else grouped0
    if (pairBudget > 0) {
      val sz = size(col("ids")).cast("long")
      val est = grouped.agg(coalesce(sum(sz * (sz - 1L)), lit(0L)).as("twice"),
        coalesce(max(sz), lit(0L)).as("hot"), count(lit(1)).as("nb")).head()
      val pairs = est.getLong(0) / 2
      require(pairs <= pairBudget,
        s"bucketPairs: blocking scheme would expand ~$pairs candidate pairs " +
          s"(budget $pairBudget; hottest bucket ${est.getLong(1)} ids across " +
          s"${est.getLong(2)} multi-id buckets) — tighten the threshold, widen " +
          s"the blocking (more bands / longer prefixes), or raise/disable the " +
          s"budget (pairBudget = 0) if the output really is wanted")
    }
    val expanded = grouped
      .select(explode(flatten(transform(col("ids"), (x, i) =>
        transform(slice(col("ids"), i + lit(2), size(col("ids"))),
          y => struct(x.as("a"), y.as("b")))))).as("p"))
    expanded.select(col("p.a").as("doc_a"), col("p.b").as("doc_b")).distinct()
  }

  /**
   * Exact n-gram Jaccard similarity self-join: all pairs `(doc_a < doc_b)`
   * with `J(shingles_a, shingles_b) >= threshold`.
   *
   * Scale path = **prefix filtering** (the AllPairs/PPJoin family, public
   * literature): order every document's shingles by global document
   * frequency (rarest first, ties by shingle text — one global total order),
   * keep only the first `sz − ceil(threshold·sz) + 1` shingles as the
   * "prefix", and generate candidates only from prefix collisions. Any pair
   * with Jaccard ≥ threshold must collide on at least one prefix shingle, so
   * the join is exact while candidate generation touches a small fraction of
   * the inverted index. Candidates are then verified with the exact Jaccard.
   *
   * Shuffles: shingle-frequency count, prefix re-sort, candidate join —
   * all keyed on shingle/doc id; no cross join anywhere.
   */
  def jaccardPairs(docs: DataFrame, idCol: String, textCol: String,
      n: Int = 3, threshold: Double = 0.8,
      pairBudget: Long = DefaultPairBudget): DataFrame = {
    // the sets feed candidate generation AND both verify sides — persist so
    // the shingling subtree runs once, not three times
    val sets = Caches.track(hashedShingleSets(docs, idCol, textCol, n))
    val exploded = sets.select(col(idCol), explode(col("hs")).as("s"))
    verifyPairs(bucketPairs(dfRankedPrefixes(exploded, idCol, threshold), "s", idCol,
        pairBudget),
      sets, idCol, sets, idCol, threshold)
  }

  /** The AllPairs/PPJoin prefix frame shared by [[jaccardPairs]] and
    * [[containmentPairs]]: each doc's shingles in the GLOBAL canonical
    * (document-frequency asc, hash asc) order, truncated to the first
    * `sz − ceil(threshold·sz) + 1` — any pair sharing ≥ `threshold·sz` of
    * this doc's shingles must collide inside this prefix (pigeonhole), so
    * candidate generation from prefix collisions is exact. Rarest-first
    * ordering doubles as skew discipline: prefixes concentrate on LOW-df
    * shingles, so no posting list explodes. */
  private def dfRankedPrefixes(exploded: DataFrame, idCol: String,
      threshold: Double): DataFrame = {
    val freq = exploded.groupBy("s").agg(count(lit(1)).as("df"))
    val ordered = exploded.join(freq, "s")
      .groupBy(idCol)
      .agg(array_sort(collect_list(struct(col("df"), col("s")))).as("ranked"))
      .select(col(idCol),
        transform(col("ranked"), r => r.getField("s")).as("ordered"))
    ordered
      .withColumn("plen",
        (size(col("ordered")) - ceil(lit(threshold) * size(col("ordered"))) + 1).cast("int"))
      .select(col(idCol), explode(slice(col("ordered"), lit(1), col("plen"))).as("s"))
  }

  /**
   * Exact CONTAINMENT similarity join — the near-SUPERSET dup mode Jaccard
   * is blind to: pairs `(doc_a < doc_b)` where the smaller shingle set is
   * contained in the other at `|A∩B| / min(|A|,|B|) ≥ threshold`. A
   * document wrapped in 3× its length of boilerplate (or a truncated copy)
   * has Jaccard ≈ 1/3 but containment ≈ 1 — the RealNews/C4-style "this is
   * a subset of that" signal.
   *
   * Exactness argument: wlog |A| ≤ |B| and C ≥ t ⇒ A shares
   * `c ≥ ceil(t·|A|)` shingles with B; A's df-ranked prefix has length
   * `|A| − ceil(t·|A|) + 1`, and c common shingles cannot all fit in the
   * `ceil(t·|A|) − 1`-long suffix — so at least one of A's PREFIX shingles
   * is in B's FULL set. Candidates therefore come from `prefix(X) ⋈
   * full-inverted-index(Y)` (asymmetric — unlike Jaccard's prefix×prefix;
   * the full-index side is the extra exactness cost), both directions
   * covered because every doc contributes its prefix. Verification is the
   * codegen'd sorted-merge intersection. Shuffles: df count, prefix
   * re-sort, candidate join, verify join — all on shingle/doc keys, and
   * prefixes concentrate on rare shingles so the index join stays
   * skew-resistant.
   */
  def containmentPairs(docs: DataFrame, idCol: String, textCol: String,
      n: Int = 3, threshold: Double = 0.9): DataFrame = {
    require(threshold > 0.0 && threshold <= 1.0, s"threshold out of (0,1]: $threshold")
    val sets = Caches.track(hashedShingleSets(docs, idCol, textCol, n))
    val exploded = Caches.track(sets.select(col(idCol), explode(col("hs")).as("s")))
    val prefixes = dfRankedPrefixes(exploded, idCol, threshold)
      .select(col(idCol).as("__pid"), col("s"))
    val full = exploded.select(col(idCol).as("__fid"), col("s"))
    val cand = prefixes.join(full, Seq("s"))
      .filter(col("__pid") =!= col("__fid"))
      .select(least(col("__pid"), col("__fid")).as("doc_a"),
        greatest(col("__pid"), col("__fid")).as("doc_b"))
      .distinct()
    verifyPairs(cand, sets, idCol, sets, idCol, threshold, containment = true)
  }

  /** Exact verification of candidate pairs `(doc_a, doc_b)`: `doc_a` joins
    * its hashed shingle set `(idA, hs, sz)` in `setsA`, `doc_b` its set in
    * `setsB`, and one codegen'd sorted-merge pass counts `c = |A∩B|`. The
    * measure is Jaccard `c / (|A| + |B| − c)` (the same integers as
    * [[jaccard]], so the same exact double) or, with `containment`,
    * `c / min(|A|, |B|)`. Keeps pairs scoring at least `threshold` and
    * returns `(doc_a, doc_b, jaccard | containment)`. */
  private def verifyPairs(candidates: DataFrame, setsA: DataFrame, idA: String,
      setsB: DataFrame, idB: String, threshold: Double,
      containment: Boolean = false): DataFrame = {
    import org.apache.spark.sql.graftx.VectorFunctions.sorted_intersect_count
    val sa = setsA.select(col(idA).as("doc_a"), col("hs").as("hs_a"), col("sz").as("sz_a"))
    val sb = setsB.select(col(idB).as("doc_b"), col("hs").as("hs_b"), col("sz").as("sz_b"))
    val (c, a, b) = (col("c"), col("sz_a"), col("sz_b"))
    val (measure, score) =
      if (containment) ("containment", c.cast("double") / least(a, b).cast("double"))
      else ("jaccard", c.cast("double") / (a + b - c).cast("double"))
    candidates.join(sa, "doc_a").join(sb, "doc_b")
      .withColumn("c", sorted_intersect_count(col("hs_a"), col("hs_b")))
      .withColumn(measure, score)
      .filter(col(measure) >= threshold)
      .select("doc_a", "doc_b", measure)
  }

  /**
   * MinHash + LSH near-dup candidate generation with exact verification.
   *
   * Signature: `numHashes` min-hashes per document, hash family
   * `h_i(s) = xxhash64(i, s)` (independent seeds via the leading literal).
   * Banding: `bands` bands of `numHashes/bands` rows; documents colliding in
   * any band become candidates; candidates are verified with exact Jaccard so
   * the output contains no false positives (recall is governed by the band
   * curve `1−(1−t^r)^b` — with 64 hashes / 16 bands ≈ 0.9998 at t = 0.8).
   *
   * One shuffle to aggregate signatures, one per-band bucket join on
   * `(band, bucket-hash)` — no pair ever forms outside a shared bucket.
   */
  def minhashLshPairs(docs: DataFrame, idCol: String, textCol: String,
      n: Int = 3, numHashes: Int = 64, bands: Int = 16, threshold: Double = 0.8): DataFrame = {
    val sets = Caches.track(hashedShingleSets(docs, idCol, textCol, n))
    // a pair is a candidate when it shares any (band, bucket) key
    val buckets = lshBuckets(sets, idCol, numHashes, bands)
      .select(col(idCol), struct(col("band"), col("bucket")).as("bk"))
    verifyPairs(bucketPairs(buckets, "bk", idCol), sets, idCol, sets, idCol, threshold)
  }

  /** Default SimHash token hash: `xxhash64` — the fast production choice. */
  val xxTokenHash: Column => Column = tk => xxhash64(tk)

  /** Oracle-portable 60-bit token hash: [[Sampling.idHash]], the first 15
    * hex chars of md5 parsed as an integer — computable bit-identically in
    * DuckDB (`CAST('0x' || substr(md5(tok), 1, 15) AS BIGINT)`), which makes
    * the whole SimHash pipeline hash-checkable against a SQL oracle. Bits
    * 60–63 are always 0 (the fingerprint has 60 effective bits); the
    * pigeonhole banding guarantee is unaffected. ~3× slower than xxhash64 —
    * use for verification, not production. */
  val md5TokenHash: Column => Column = Sampling.idHash

  /**
   * Connected components over an undirected duplicate-pair set: every node
   * (doc id) is labeled with the MINIMUM id reachable from it, so each
   * duplicate cluster gets its lowest member as the canonical id — the step
   * that turns pairwise near-dup output into an actual keep/drop decision
   * (keep the canonical row, drop the rest).
   *
   * Two execution paths behind one size gate (same spirit as Spark's
   * broadcast-join threshold):
   *  - edge count ≤ `localEdgeLimit` (default 1 M pairs — the common case:
   *    blocking keeps the pair set tiny relative to the corpus): collect the
   *    pairs and run a driver-side union-find — ONE distributed job total
   *    instead of two per propagation round;
   *  - above the gate: alternating LARGE-STAR / SMALL-STAR contraction
   *    (the MapReduce CC algorithm of Kiveris et al., "Connected Components
   *    in MapReduce and Beyond", re-expressed over DataFrames): large-star
   *    hangs every node's larger neighbors off its neighborhood minimum,
   *    small-star its smaller ones, and the edge set converges to per-
   *    component stars centered at the minimum id in O(log) alternations —
   *    on ANY topology, where plain min-label propagation needs
   *    O(diameter) rounds (a 1 M-link chain = a million rounds vs ~20).
   *    Each alternation is two grouped-min shuffles + a distinct; edges are
   *    checkpointed per round through [[Caches.iterate]] (the dead round
   *    released as the next materializes), so lineage stays flat and the
   *    plan does not grow with iterations. `maxIter` bounds the
   *    alternations — the operator THROWS rather than returning wrong
   *    labels, releasing every round first.
   *
   * Output: `(node, cluster)` for every node that appears in some pair
   * (singletons are their own implicit clusters and are not emitted).
   *
   * **EAGER, unlike every other builder here**: the iterative fixpoint runs
   * distributed rounds (one `count()` action per round) AT CALL TIME — it is
   * inherent to convergence detection, not an accident. Callers composing
   * this like a lazy plan builder (e.g. building a frame just to `.explain`
   * it) pay the full multi-round execution; compute it once and reuse the
   * returned (cached) frame.
   */
  def connectedComponents(pairs: DataFrame, aCol: String, bCol: String,
      maxIter: Int = 25, localEdgeLimit: Long = 1000000L): DataFrame = {
    val level = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    // both pair columns must carry ONE id type: the local fast path takes its
    // output schema (and its comparator) from the pair type, and an int-vs-
    // long pair would label-compare inconsistently in either path. Null ids
    // are dropped up front — they are meaningless edges; the distributed path
    // only tolerated them accidentally (join semantics) while the local path
    // would NPE, and the two paths must agree behind one API.
    val dtA = pairs.schema(pairs.schema.fieldIndex(aCol)).dataType
    val dtB = pairs.schema(pairs.schema.fieldIndex(bCol)).dataType
    require(dtA == dtB,
      s"connectedComponents pair columns must share one id type: $aCol is $dtA, $bCol is $dtB")
    val p = pairs.select(col(aCol).as("a"), col(bCol).as("b"))
      .filter(col("a").isNotNull && col("b").isNotNull).persist(level)
    // near-dup pair sets are usually tiny relative to the corpus (pairs only
    // form inside blocking buckets); when the edge set fits the same size
    // class a broadcast join would collect anyway, a driver-side union-find
    // replaces O(diameter) join+agg round-trip jobs with ONE distributed job
    // (the count + collect of the already-persisted pairs). Above the gate
    // the distributed min-label propagation below runs unchanged.
    // NB the gate counts EDGES, not bytes: 1 M long-id edges is ~32 MB of
    // driver heap, but 1 M edges of long string doc-ids can be 10× that —
    // callers with fat string ids should pass a smaller localEdgeLimit (or 0
    // to force the distributed path, which is always available).
    if (p.count() <= localEdgeLimit) {
      val rows = p.collect()
      p.unpersist(blocking = false)
      return localComponents(rows, dtA, pairs.sparkSession)
    }
    // one aggregation doubles as the round's materialization AND its
    // convergence signature: (cardinality, order-free hash sum). Both edge
    // sets are distinct, so equal signatures mean equal sets up to a 2^-64
    // per-round hash collision — and the final star forest labels are
    // idempotent under one extra round, so a collision would have to
    // survive EVERY remaining round to corrupt output.
    def signature(df: DataFrame): (Long, String) = {
      // hash terms sum as decimal(38,0): a 64-bit sum would overflow (an
      // ERROR under ANSI mode, silent wraparound otherwise)
      val r = df.agg(count(lit(1)),
        sum(xxhash64(col("child"), col("parent")).cast("decimal(38,0)"))).head()
      (r.getLong(0), String.valueOf(r.get(1)))
    }
    // one star phase: hang each node's LARGER (large-star) or SMALLER-plus-
    // self (small-star) neighbors off its neighborhood minimum. The new
    // edge set is the union of every node's emissions — connectivity is
    // preserved because a node with only smaller neighbors is re-attached
    // by those neighbors' own emissions.
    def starPhase(edges: DataFrame, large: Boolean): DataFrame = {
      val sym = edges.select(col("child").as("u"), col("parent").as("v"))
        .union(edges.select(col("parent").as("u"), col("child").as("v")))
      val m = sym.groupBy("u").agg(min("v").as("nmin"))
        .select(col("u"), least(col("u"), col("nmin")).as("m"))
      val joined = sym.join(m, "u")
      val emitted =
        if (large) joined.filter(col("v") > col("u"))
          .select(col("v").as("child"), col("m").as("parent"))
        else joined.filter(col("v") < col("u"))
          .select(col("v").as("child"), col("m").as("parent"))
          .union(m.select(col("u").as("child"), col("m").as("parent")))
      emitted.filter(col("child") =!= col("parent")).distinct()
    }
    // canonical child>parent edge list; self-pairs drop here (their nodes
    // are re-attached as singletons from the node set at the end). Round
    // k + 1 first signs round k's edges (a plain checkpoint scan) and stops
    // at the fixpoint; the step itself bounds the rounds, throwing once
    // `maxIter` alternations have not converged.
    var sig = (-1L, "")
    val cur = Caches.iterate(p.select(greatest(col("a"), col("b")).as("child"),
        least(col("a"), col("b")).as("parent"))
      .filter(col("child") =!= col("parent")).distinct(), Int.MaxValue) { (edges, round) =>
      val nsig = signature(edges)
      lastDistributedRounds.set(round.index - 1)
      if (nsig == sig) None
      else if (round.index > maxIter) {
        p.unpersist(blocking = false)
        throw new IllegalStateException(
          s"connectedComponents did not converge in $maxIter star rounds — " +
            "pathological id topology; raise maxIter")
      } else {
        sig = nsig
        // the large-star output feeds small-star's neighborhood build through
        // several plan references — truncate its lineage too, or the round's
        // plan squares before the next truncation
        Some(starPhase(round.scratch(starPhase(edges, large = true)), large = false))
      }
    }
    // at the fixpoint `cur` is a star forest: child → component minimum.
    // Label every node that appeared in the input (roots and self-pair
    // nodes have no child edge — they label themselves).
    val nodes = p.select(col("a").as("node")).union(p.select(col("b").as("node"))).distinct()
    val labels = nodes
      .join(cur.withColumnRenamed("child", "node"), Seq("node"), "left")
      .select(col("node"), coalesce(col("parent"), col("node")).as("label"))
      .persist(level)
    labels.count()
    p.unpersist(blocking = false)
    Caches.register(labels).select(col("node"), col("label").as("cluster"))
  }

  /** Star-contraction alternations the last distributed
    * [[connectedComponents]] run took — observability for the round bound
    * (a chain must converge in ~log rounds, not diameter: `DedupSpec` pins
    * a 512-link chain; BASELINE.md records 21 rounds on a 1 M-link path). */
  val lastDistributedRounds = new java.util.concurrent.atomic.AtomicInteger(0)

  /** Driver-side union-find over a collected edge list (the small-graph fast
    * path of [[connectedComponents]]). Union-by-min-root + path halving: the
    * root of every tree is by construction the minimum member of its
    * component, so `find(node)` IS the cluster label. Node type is whatever
    * the pair columns carry (doc ids: long/int/string — all `Comparable`). */
  private def localComponents(rows: Array[org.apache.spark.sql.Row],
      dt: org.apache.spark.sql.types.DataType,
      spark: org.apache.spark.sql.SparkSession): DataFrame = {
    val parent = new java.util.HashMap[Any, Any]()
    def find(x0: Any): Any = {
      var x = x0
      var p = parent.get(x)
      if (p == null) { parent.put(x, x); return x }
      while (p != x) {
        val gp = parent.getOrDefault(p, p)
        parent.put(x, gp) // path halving
        x = gp
        p = parent.getOrDefault(x, x)
      }
      x
    }
    // labels order the way Spark's min/least does, so the fast path picks
    // the SAME canonical label the distributed path would
    rows.foreach { r =>
      val ra = find(r.get(0))
      val rb = find(r.get(1))
      if (ra != rb) {
        if (Graphs.idOrder.lt(ra, rb)) parent.put(rb, ra) else parent.put(ra, rb)
      }
    }
    val nodes = parent.keySet().toArray
    val out = nodes.toSeq.map(n => org.apache.spark.sql.Row(n, find(n)))
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("node", dt),
      org.apache.spark.sql.types.StructField("cluster", dt)))
    spark.createDataFrame(spark.sparkContext.parallelize(out, 1), schema)
  }

  /** 64-bit SimHash per document over whitespace tokens: bit k of the
    * fingerprint is the sign of `Σ_tokens (±1)` where the token votes +1 if
    * bit k of `tokenHash(token)` is set. Computed by the codegen'd
    * [[org.apache.spark.sql.graftx.SimHash64]] expression — a pure per-row
    * map, NO shuffle (the old explode + 64-sum-aggregate formulation
    * shuffled the whole exploded token stream). */
  def simhash(docs: DataFrame, idCol: String, textCol: String,
      tokenHash: Column => Column = xxTokenHash): DataFrame = {
    import org.apache.spark.sql.graftx.VectorFunctions.simhash64
    docs.select(col(idCol),
      simhash64(transform(TextAnalysis.tokens(col(textCol)), tk => tokenHash(tk))).as("simhash"))
  }

  /** SimHash near-dup pairs: hamming distance ≤ `maxBits` over the 64-bit
    * fingerprints. Banding on 4 × 16-bit segments: any pair within hamming 3
    * must agree on at least one segment (pigeonhole), so candidates form
    * only inside segment buckets; then the exact popcount filter runs on
    * candidates only.
    *
    * Pair generation is a streaming self-join on the segment key with the
    * fingerprint carried inline — NOT [[bucketPairs]]: duplicate-heavy
    * corpora make segment buckets large (every exact-dup group shares all
    * four segments), and a per-bucket `collect_set` array expansion turns a
    * hot bucket into a single-task |bucket|² memory bomb (measured 42 s →
    * 3 s at 20 k docs with 10-member dup groups). The join output streams
    * through the codegen'd popcount filter unmaterialized; a pair agreeing
    * on k segments is popcounted k (≤ 4) times, deduped by the final
    * distinct. */
  def simhashPairs(docs: DataFrame, idCol: String, textCol: String, maxBits: Int = 3,
      tokenHash: Column => Column = xxTokenHash): DataFrame =
    hammingPairs(simhash(docs, idCol, textCol, tokenHash), idCol, "simhash", maxBits)

  /**
   * All pairs of 64-bit fingerprints within hamming distance `maxBits` —
   * the pairing stage of [[simhashPairs]], exposed for ANY 64-bit
   * fingerprint family (SimHash text prints, perceptual image hashes —
   * [[Multimodal.imageHashes]]). Banding on 4 × 16-bit segments: by
   * pigeonhole, any pair within hamming 3 agrees EXACTLY on at least one
   * segment, so candidates come from segment-equality buckets (one
   * shuffle) and recall is exact for `maxBits ≤ 3`; the codegen'd
   * `bit_count(xor)` verifies. Output `(doc_a < doc_b, hamming)`.
   */
  def hammingPairs(fps: DataFrame, idCol: String, fpCol: String,
      maxBits: Int = 3): DataFrame = {
    require(maxBits <= 3, "4x16-bit banding guarantees recall only up to hamming distance 3")
    val segs = array((0 until 4).map(j =>
      struct(lit(j).as("seg"),
        shiftright(col(fpCol), j * 16).bitwiseAND(lit(0xFFFFL)).as("val"))): _*)
    val keyed = fps.select(col(idCol).as("id"), col(fpCol).as("__fp"), explode(segs).as("sg"))
    val l = keyed.select(col("sg"), col("id").as("doc_a"), col("__fp").as("fp_a"))
    val r = keyed.select(col("sg"), col("id").as("doc_b"), col("__fp").as("fp_b"))
    l.join(r, Seq("sg"))
      .filter(col("doc_a") < col("doc_b"))
      .select(col("doc_a"), col("doc_b"),
        expr("bit_count(fp_a ^ fp_b)").cast("long").as("hamming"))
      .filter(col("hamming") <= maxBits)
      .distinct()
  }

  /**
   * Incremental snapshot dedup — the recurring-ingest shape: keep only the
   * rows of a NEW `batch` whose content fingerprint (md5 of the sorted
   * distinct token set, the [[graft.Queries]] `dedup_fingerprint` contract)
   * is (a) absent from the established `corpus` and (b) first within the
   * batch itself (minimum `idCol`). The corpus is NEVER re-paired against
   * itself — each ingest pays one distinct-fingerprint projection of the
   * corpus plus an anti-join of the (small) batch, so recurring ingestion
   * cost tracks the batch, not the archive. At 100 TB the corpus
   * fingerprint projection is the thing to materialize once as its own
   * table and reuse across ingests ([[graft.store.TableStore]]).
   *
   * Rows with NULL `textCol` carry no content to fingerprint and are
   * excluded on BOTH sides (a null-text batch row is dropped, a null-text
   * corpus row blocks nothing) — the contract a SQL `NOT IN` oracle needs
   * too, since one NULL in the subquery would otherwise empty the result.
   */
  def dedupeAgainstCorpus(batch: DataFrame, corpus: DataFrame, idCol: String,
      textCol: String): DataFrame = {
    val fp = contentFingerprint(col(textCol))
    val fpCol = graft.ops.Ops.freshName(batch.columns.toSet, "__fp")
    val corpusFps = corpus.filter(col(textCol).isNotNull).select(fp.as(fpCol)).distinct()
    exact(
      batch.filter(col(textCol).isNotNull).withColumn(fpCol, fp)
        .join(corpusFps, Seq(fpCol), "left_anti"),
      Seq(fpCol), idCol).drop(fpCol)
  }

  /** A persisted MinHash-LSH dedup index: `table` holds the corpus' hashed
    * shingle sets (`id`, `hs`, `sz`) for exact verification,
    * `<table>_buckets` the banded signature buckets (`band`, `bucket`, `id`)
    * the probe join collides against, and `<table>_meta` the shingle/hash
    * parameters — a probe MUST use the build's parameters or bucket keys
    * never match, so they travel with the index instead of the caller. */
  final case class LshIndex(table: String, n: Int, numHashes: Int, bands: Int)

  /** Banded signature buckets `(idCol, band, bucket)` per row of `sets`:
    * the signature is one codegen'd per-row pass (no explode/aggregate
    * shuffle), and band `j`'s bucket is the hash of the signature's `j`-th
    * row-group slice. Refuses `numHashes` not divisible by `bands` when
    * called, before any plan runs. */
  private def lshBuckets(sets: DataFrame, idCol: String, numHashes: Int,
      bands: Int): DataFrame = {
    require(numHashes % bands == 0, "numHashes must be divisible by bands")
    import org.apache.spark.sql.graftx.VectorFunctions.minhash_signature
    val rows = numHashes / bands
    sets.select(col(idCol), minhash_signature(col("hs"), numHashes).as("sig"))
      .select(col(idCol), explode(array((0 until bands).map(j =>
        struct(lit(j).as("band"), hash(slice(col("sig"), j * rows + 1, rows)).as("bucket"))): _*)).as("bk"))
      .select(col(idCol), col("bk.band").as("band"), col("bk.bucket").as("bucket"))
  }

  /**
   * Build and persist the LSH dedup index over an established corpus ONCE —
   * the fuzzy counterpart of [[dedupeAgainstCorpus]]'s fingerprint
   * projection, and the dedup-family analog of
   * [[graft.ext.Similarity.buildIndex]]: at 100 TB the archive's shingle
   * sets and band buckets are the thing to materialize and reuse across
   * ingests, never re-shingling or re-pairing the archive per batch.
   * NULL-`textCol` corpus rows carry nothing to collide with and are
   * excluded (the [[dedupeAgainstCorpus]] contract).
   */
  def buildLshIndex(store: graft.store.TableStore, table: String, corpus: DataFrame,
      idCol: String, textCol: String, n: Int = 3, numHashes: Int = 64,
      bands: Int = 16): LshIndex = {
    val sets = Caches.track(hashedShingleSets(
      corpus.filter(col(textCol).isNotNull), idCol, textCol, n))
    // built before the first write, so bad banding refuses with nothing written
    val buckets = lshBuckets(sets, idCol, numHashes, bands).withColumnRenamed(idCol, "id")
    store.atomicOverwrite(table, sets.withColumnRenamed(idCol, "id"))
    // clustered on the probe join's keys so footer stats keep bucket files
    // tight; the probe join itself shuffles on (band, bucket) either way
    store.atomicOverwriteClustered(s"${table}_buckets", buckets,
      Seq("band", "bucket"), numFiles = bands)
    val spark = corpus.sparkSession
    import spark.implicits._
    store.atomicOverwrite(s"${table}_meta",
      Seq((n, numHashes, bands)).toDF("n", "num_hashes", "bands"))
    LshIndex(table, n, numHashes, bands)
  }

  /**
   * Grow a persisted LSH index with a new batch of docs — the missing half
   * of the incremental-ingest loop: [[dedupeAgainstLshIndex]] drops
   * near-dups of the ARCHIVE, and its survivors must then JOIN the archive
   * or every later batch keeps deduping against the original corpus only.
   * Appends the batch's hashed shingle sets and band buckets, computed with
   * the STORED parameters (n, numHashes, bands — parameter drift between
   * index segments would silently break probe/verify comparability, so
   * they travel in the meta table and are never re-specified here).
   *
   * Scale shape: the batch's shingle sets are materialized ONCE (a
   * [[Caches.trackCheckpoint]], released by [[unpersistAll]]) and both
   * appends read that checkpoint. A cached frame would not do: a plain
   * rename-mode append into the index refreshes every cached plan that
   * reads it — [[dedupeAgainstLshIndex]]'s survivors read both segment
   * tables — so the second append would re-run the whole dedup probe. A
   * keyed replay whose two appends both committed returns before anything
   * is materialized.
   *
   * Index rows are never rewritten, but each append's drift check merges
   * every footer of its segment table
   * ([[graft.store.TableStore.readEvolved]]), a cost that grows with the
   * segment's file count. In pointer mode each append publishes as its
   * own O(1)-committed generation, and [[graft.store.TableStore.compact]]
   * folds the segment chain when it grows long. Appending leaves new
   * bucket rows outside the original range-clustered file layout; probes
   * shuffle on (band, bucket) either way, so correctness is unaffected and
   * only footer-skipping tightness decays until the next compact. Unique
   * ids across segments are the caller's contract (same as
   * [[buildLshIndex]]): append the SURVIVORS of [[dedupeAgainstLshIndex]],
   * which are id-disjoint from the archive by construction.
   */
  def appendToLshIndex(store: graft.store.TableStore, index: LshIndex, batch: DataFrame,
      idCol: String, textCol: String, idempotencyKey: Option[String] = None): Unit = {
    val segments = Seq(index.table, s"${index.table}_buckets")
    if (!idempotencyKey.exists(k => segments.forall(store.idempotentKeyCommitted(_, k)))) {
      val sets = Caches.trackCheckpoint(hashedShingleSets(
        batch.filter(col(textCol).isNotNull), idCol, textCol, index.n))
        .withColumnRenamed(idCol, "id")
      segments.zip(Seq(sets, lshBuckets(sets, "id", index.numHashes, index.bands))).foreach {
        case (table, rows) => idempotencyKey match {
          case None => store.append(table, rows)
          // each segment table keys independently, so a replay that crashed
          // between the two appends resumes by skipping the committed one
          case Some(k) => store.appendIdempotent(table, rows, k)
        }
      }
    }
    // opt-in growth bound (store.autoCompactFiles): hundreds of ingest
    // batches otherwise degrade probe-time file skipping silently; the
    // rewrite restores the build-time layouts and carries exactly-once keys
    store.maybeAutoCompactClustered(s"${index.table}_buckets",
      Seq("band", "bucket"), index.bands)
    store.maybeAutoCompact(index.table, index.bands)
  }

  /** Reload a persisted LSH index's parameters (one meta row). */
  def loadLshIndex(store: graft.store.TableStore, table: String): LshIndex = {
    val r = store.read(s"${table}_meta").collect()
    require(r.length == 1, s"loadLshIndex('$table'): expected one meta row, got ${r.length}")
    LshIndex(table, r(0).getAs[Int]("n"), r(0).getAs[Int]("num_hashes"), r(0).getAs[Int]("bands"))
  }

  /**
   * Fuzzy incremental ingest dedup against a persisted index: drop batch
   * docs whose exact n-gram Jaccard against ANY indexed corpus doc reaches
   * `threshold`. Candidates come from band-bucket collisions (batch
   * signatures vs the STORED bucket table — the corpus is never
   * re-shingled), then verify with the codegen'd sorted-merge intersection
   * against the STORED shingle sets, so output has zero false positives;
   * recall is the band curve (≈ 0.9998 at 64/16, t = 0.8). Cost per ingest
   * tracks the batch: the index is read, joined, never rebuilt. NULL-text
   * batch rows are dropped (nothing to compare — same contract as
   * [[dedupeAgainstCorpus]]).
   */
  def dedupeAgainstLshIndex(store: graft.store.TableStore, index: LshIndex,
      batch: DataFrame, idCol: String, textCol: String, threshold: Double): DataFrame = {
    val bsets = Caches.track(hashedShingleSets(
      batch.filter(col(textCol).isNotNull), idCol, textCol, index.n))
    // candidates pair a batch doc (doc_a) with a colliding corpus doc (doc_b)
    val cands = lshBuckets(bsets, idCol, index.numHashes, index.bands)
      .withColumnRenamed(idCol, "doc_a")
      .join(store.read(s"${index.table}_buckets"), Seq("band", "bucket"))
      .select(col("doc_a"), col("id").as("doc_b")).distinct()
    val dups = verifyPairs(cands, bsets, idCol, store.read(index.table), "id", threshold)
      .select(col("doc_a").as(idCol)).distinct()
    batch.filter(col(textCol).isNotNull).join(dups, Seq(idCol), "left_anti")
  }

  /**
   * Edit-distance near-dup pairs: all `(doc_a, doc_b)` with Levenshtein
   * distance ≤ `maxDist` between the first `prefixLen` chars of their
   * texts, whose full text lengths differ ≤ `maxDist`, compared only
   * INSIDE equal `blockCols` groups — the title/short-text fuzzy-match
   * dedup rule (jaccard/minhash are insensitive to small in-word edits;
   * edit distance is the right metric for near-identical short strings).
   *
   * Length blocking is built in WITHOUT boundary blindness: each side is
   * bucketed on `length div bucketWidth` and one side probes its adjacent
   * buckets (b−1, b, b+1) — the same band-expansion trick as
   * [[graft.ops.Ops.rangeJoin]]. Because `bucketWidth > maxDist`, any pair
   * with length difference ≤ `maxDist` spans at most adjacent buckets, so
   * recall over the stated contract is exact: docs of 63 vs 65 chars meet
   * even though they land in different width-64 buckets. Each qualifying
   * pair meets on exactly one band key (the un-expanded side's bucket), so
   * no dedup pass is needed.
   *
   * `bucketWidth <= 0` (the default) selects the MINIMAL width
   * `maxDist + 1`. This is where the r18 name-linkage estimator ladder
   * degenerates (r19 verdict item 4): recall is exact at EVERY width
   * `> maxDist` — in-contract pairs (`|Δlen| <= maxDist`) land in adjacent
   * buckets at any such width — while the out-of-contract candidates a
   * band admits (`|Δlen|` up to `2·bucketWidth − 1`) shrink monotonically
   * as the width narrows. There is no recall/selectivity trade to probe:
   * the floor is optimal for every corpus, so the "adaptive" choice is a
   * constant, not an estimator loop. The r17-era fixed 64 was pure
   * conservatism — at 30× it admitted ~13× the length slack the contract
   * needs per band, which is exactly the block-population blowup the
   * verdict measured. A caller-pinned positive width is still honored
   * (and spec-pinned result-equivalent).
   *
   * Scale shape: a self-equi-join on `(blockCols, length band)` — one
   * shuffle, ~3× the one-bucket candidate count, no cartesian pair scan.
   * Cost is quadratic PER (block × band), which is the contract of every
   * edit-distance blocking scheme; callers still choose `blockCols`
   * selective enough (language, SimHash band, cluster id). The final
   * filter prunes cheaply (length difference > `maxDist` can never match)
   * and the DP itself early-abandons past `maxDist` (Spark's thresholded
   * `levenshtein`, banded O(prefixLen × maxDist)).
   */
  def editDistancePairs(docs: DataFrame, idCol: String, textCol: String,
      blockCols: Seq[String], maxDist: Int, prefixLen: Int = 64,
      bucketWidth: Int = 0): DataFrame = {
    require(maxDist >= 0, s"maxDist must be >= 0: $maxDist")
    require(prefixLen > 0, s"prefixLen must be positive: $prefixLen")
    val width = if (bucketWidth <= 0) maxDist + 1 else bucketWidth
    require(width > maxDist,
      s"bucketWidth ($width) must exceed maxDist ($maxDist): in-contract " +
        "pairs must span at most adjacent length buckets for the probe to find them")
    require(blockCols.nonEmpty,
      "editDistancePairs needs at least one blocking column (an unblocked " +
        "self-join is the all-pairs scan this operator exists to avoid)")
    val reserved = Seq("doc_a", "doc_b", "edit_dist")
    val clash = blockCols.filter(reserved.contains)
    require(clash.isEmpty,
      s"blockCols ${clash.mkString(", ")} collide with the output columns " +
        s"${reserved.mkString("/")} — rename them before pairing")
    // internal names probed against the input so a column named __ta/__band
    // can never silently break the pair filter
    val taken = docs.columns.toSet ++ reserved
    val Seq(ta, tb, la, lb, band) = Seq("__ta", "__tb", "__la", "__lb", "__band")
      .map(graft.ops.Ops.freshName(taken, _, bare = true))
    def side(tag: String, t: String, l: String) = docs.select(
      blockCols.map(col) ++ Seq(
        col(idCol).as(s"doc_$tag"),
        substring(col(textCol), 1, prefixLen).as(t),
        length(col(textCol)).cast("long").as(l)): _*)
    val bA = floor(col(la) / lit(width))
    val bB = floor(col(lb) / lit(width))
    val a = side("a", ta, la).withColumn(band, explode(array(bA - 1, bA, bA + 1)))
    val b = side("b", tb, lb).withColumn(band, bB)
    a.join(b, blockCols :+ band)
      .filter(col("doc_a") < col("doc_b"))
      .filter(abs(col(la) - col(lb)) <= maxDist)
      .withColumn("edit_dist", levenshtein(col(ta), col(tb), maxDist))
      .filter(col("edit_dist") >= 0) // thresholded form returns -1 past maxDist
      .select(col("doc_a"), col("doc_b"), col("edit_dist"))
  }

  /** Canonical selection — the step after clustering: collapse every
    * duplicate cluster to its single best representative and keep all
    * non-duplicate documents unchanged. `clusters` is the
    * [[connectedComponents]] output `(node, cluster)` and contains ONLY dup
    * members, so it is typically tiny relative to the corpus; both joins
    * below hint it for broadcast when Catalyst's size estimate agrees (so
    * the corpus never shuffles), falling back to the planner's choice on a
    * duplicate-heavy corpus whose membership outgrows the broadcast limit —
    * the per-cluster winner window runs only over the cluster members
    * either way. Ranking the full
    * corpus with `Window.partitionBy(cluster)` instead would hash-exchange
    * every row (singletons included), which is exactly the shuffle this
    * shape avoids at 100 TB. The winner is row 1 under `ordering`, which
    * callers must make total (tie-break on the id) for a deterministic
    * result. */
  def keepBest(docs: DataFrame, clusters: DataFrame, idCol: String,
      ordering: Seq[Column]): DataFrame = {
    // size-gated broadcast (the Ops.hintIfSmall pattern): cluster membership
    // is usually tiny — hint it so the corpus never shuffles — but an
    // unconditional hint would bypass AQE's size check and die at the 8 GB
    // broadcast limit on a duplicate-heavy corpus; above the estimate the
    // planner keeps its sort-merge fallback (AQE still converts to broadcast
    // at runtime when the materialized side turns out small)
    val members = graft.ops.Ops.hintIfSmall(
      clusters.select(col("node").as(idCol), col("cluster")))
    val taken = docs.columns.toSet + "cluster"
    val rn = graft.ops.Ops.freshName(taken, "__rn")
    val w = Window.partitionBy(col("cluster")).orderBy(ordering: _*)
    val winners = docs.join(members, Seq(idCol))
      .withColumn(rn, row_number().over(w))
      .filter(col(rn) === 1).drop(rn, "cluster")
    docs.join(graft.ops.Ops.hintIfSmall(members.select(col(idCol))), Seq(idCol), "left_anti")
      .unionByName(winners)
  }

  /**
   * Exact anti-join with a Bloom prefilter — the decontamination shape for a
   * blocklist too large to broadcast: `big NOT IN keys` where `big` is the
   * 100 TB side. A plain `left_anti` join shuffles the ENTIRE big side on
   * the key; here the blocklist is aggregated once into a Bloom filter
   * (mergeable per-partition partials — the blocklist never funnels through
   * one task; only the final ~MB filter bytes reach the driver, a bounded
   * metadata collect), the filter is shipped as a literal into a codegen'd
   * scan-side probe, and only rows the filter flags (true matches + ~fpp
   * false positives) enter the exact confirm join. Result is EXACT
   * (`might_contain` has no false negatives, the confirm join removes the
   * false positives): ≡ `big.join(keys, key, "left_anti")` row for row.
   *
   * NULL semantics are the left-anti ones, not SQL NOT-IN: a NULL key on
   * the big side matches nothing and is KEPT (`xxhash64(NULL)` yields the
   * seed, so such rows may take the suspect branch — the confirm join then
   * keeps them); NULL blocklist keys are dropped before the build.
   *
   * The big side is referenced by two branch filters — over a parquet scan
   * that is two cheap scans of the SAME pruned columns (the second discards
   * ~everything scan-side with zero shuffle); a caller with an expensive
   * derived `big` should persist it first.
   */
  def bloomAntiJoin(big: DataFrame, keys: DataFrame, keyCol: String,
      expectedItems: Long = -1L): DataFrame = {
    import org.apache.spark.sql.graftx.BloomFunctions._
    val k = keys.select(col(keyCol)).filter(col(keyCol).isNotNull).distinct()
    val n = if (expectedItems > 0) expectedItems else k.count()
    if (n == 0) return big // empty blocklist: nothing can match
    val filterBytes = k.agg(bloom_filter_agg(xxhash64(col(keyCol)), n))
      .head().getAs[Array[Byte]](0)
    val might = bloom_might_contain(filterBytes, xxhash64(col(keyCol)))
    val clean = big.filter(!might)
    val suspects = big.filter(might)
    clean.unionByName(suspects.join(k, Seq(keyCol), "left_anti"))
  }

  /**
   * Fingerprint-keyed decontamination via [[bloomAntiJoin]]: drop every
   * corpus document whose [[contentFingerprint]] appears in the blocklist —
   * exact-duplicate (token-set) contamination, the membership complement to
   * the shingle-overlap [[decontaminate]]. The corpus never shuffles its
   * text; blocklist fingerprints build the filter distributed-side. NULL
   * text ⇒ NULL fingerprint ⇒ kept (nothing to match on), per the
   * [[bloomAntiJoin]] null contract.
   */
  def decontaminateExactBloom(docs: DataFrame, blocklist: DataFrame,
      textCol: String): DataFrame = {
    val fp = graft.ops.Ops.freshName(docs.columns.toSet, "__fp")
    bloomAntiJoin(
      docs.withColumn(fp, contentFingerprint(col(textCol))),
      blocklist.select(contentFingerprint(col(textCol)).as(fp)), fp).drop(fp)
  }

  /**
   * Exact duplicate-SPAN detection — substring-level dedup in the style of
   * "Deduplicating Training Data Makes Language Models Better" (Lee et al.,
   * ACL 2022; the reference's dedup surface stops at whole-row/near-dup,
   * this is the finer-grained member of the family): find every token span
   * of length ≥ `n` that occurs in MORE THAN ONE document, and return the
   * per-document maximal duplicated regions as merged `[span_start,
   * span_end]` token intervals (0-based, inclusive).
   *
   * Plan shape (all shuffles on gram hash / doc id — no pair join ever
   * forms, unlike similarity dedup; spans need only "does this gram occur
   * elsewhere", a groupBy):
   *   1. per-doc token-hash arrays → positional `n`-gram hashes (the
   *      [[gramHashes]] that [[hashedShingleSets]] uses: gram = xxhash64 of
   *      its n token xxhash64s, exact modulo 64-bit collisions — the array is
   *      materialized BEFORE the positional explode so Generate cannot
   *      re-run the gram subtree per element);
   *   2. grams held by ≥ 2 distinct docs (one grouped count-distinct);
   *   3. semi-join marks duplicated start positions;
   *   4. classic gaps-and-islands per doc merges overlapping/adjacent
   *      `[pos, pos+n−1]` intervals (window over the doc's positions —
   *      per-document state, the natural partition at corpus scale).
   *
   * Documents shorter than `n` tokens have no spans (cross-doc WHOLE-doc
   * duplication is [[exact]]/[[contentFingerprint]]'s job). Returns
   * `(idCol, span_start, span_end, span_tokens)`.
   */
  def duplicateSpans(docs: DataFrame, idCol: String, textCol: String,
      n: Int = 8, withinDoc: Boolean = false): DataFrame = {
    require(n >= 2, s"span gram length must be >= 2: $n")
    val th = col("th")
    val gramArrays = Caches.track(docs
      .select(col(idCol), transform(TextAnalysis.tokens(col(textCol)), tok => xxhash64(tok)).as("th"))
      .filter(size(th) >= n)
      .select(col(idCol), gramHashes(th, size(th), n).as("gs")))
    val pos = gramArrays.select(col(idCol), posexplode(col("gs")).as(Seq("pos", "g")))
    // withinDoc = the full Lee-et-al contract (ANY second occurrence marks,
    // including a repeat inside the same document); default marks cross-doc
    // duplication only, leaving within-doc repetition to the repetition
    // quality score
    val dupG =
      if (withinDoc)
        pos.groupBy("g").agg(count(lit(1)).as("nd")).filter(col("nd") >= 2).select("g")
      else
        pos.groupBy("g").agg(count_distinct(col(idCol)).as("nd"))
          .filter(col("nd") >= 2).select("g")
    val marked = pos.join(dupG, Seq("g"), "left_semi")
    val byDoc = Window.partitionBy(col(idCol)).orderBy(col("pos"))
    val prevEnd = max(col("pos") + lit(n - 1))
      .over(byDoc.rowsBetween(Window.unboundedPreceding, -1))
    marked
      .withColumn("__brk", when(prevEnd.isNull || col("pos") > prevEnd + 1, 1).otherwise(0))
      .withColumn("__isl", sum(col("__brk"))
        .over(byDoc.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col(idCol), col("__isl"))
      .agg(min(col("pos")).as("span_start"), (max(col("pos")) + lit(n - 1)).as("span_end"))
      .select(col(idCol), col("span_start").cast("long"), col("span_end").cast("long"),
        (col("span_end") - col("span_start") + 1).cast("long").as("span_tokens"))
  }

  /**
   * Apply [[duplicateSpans]] output: rewrite each document's text with the
   * duplicated-span tokens removed (whitespace-retokenized — the same token
   * definition the spans were computed over). Documents with no spans pass
   * through unchanged. The span list joins per doc id (hint-if-small: span
   * tables are usually far smaller than the corpus) and the token filter is
   * a per-row map — no extra shuffle beyond the join.
   */
  def stripDuplicateSpans(docs: DataFrame, spans: DataFrame, idCol: String,
      textCol: String, outCol: String = "clean_text"): DataFrame = {
    val sp = graft.ops.Ops.hintIfSmall(spans.groupBy(col(idCol))
      .agg(collect_list(struct(col("span_start"), col("span_end"))).as("__sps")))
    docs.join(sp, Seq(idCol), "left_outer")
      .withColumn(outCol, when(col("__sps").isNull, col(textCol)).otherwise(
        concat_ws(" ", filter(TextAnalysis.tokens(col(textCol)), (tok, i) =>
          !exists(col("__sps"), b =>
            i >= b("span_start") && i <= b("span_end"))))))
      .drop("__sps")
  }

  /**
   * CCNet-style cross-corpus paragraph dedup (Wenzek et al. 2020 §3.1 —
   * the per-PARAGRAPH hash dedup every public crawl pipeline runs between
   * WET parse and document-level dedup; boilerplate like cookie banners
   * and share buttons repeats across billions of pages while the articles
   * around it are unique, so document-level dedup cannot touch it): split
   * each document into paragraphs (lines), hash a normalized form
   * (lowercased, digits folded to `0` — so "Version 123" and "Version 456"
   * of the same template collapse, per CCNet's normalization intent), and
   * keep exactly the FIRST occurrence of each normalized paragraph in the
   * corpus — the `(idCol, position)`-minimal one, a total order, so the
   * survivor set is deterministic on any partitioning. Later occurrences
   * are dropped whether they sit in other documents or repeat inside the
   * same one. Documents are reassembled from their surviving paragraphs;
   * a document whose every paragraph was seen earlier vanishes (CCNet's
   * empty-document drop). NULL-text and all-blank documents vanish at the
   * explode; whitespace-only lines are dropped (layout, not content).
   *
   * Plan shape — no pair join, no window over the corpus:
   *   1. `posexplode` lines, trim, drop blanks (narrow);
   *   2. winner per normalized-hash via `min(struct(id, pos))` — an
   *      AGGREGATION with map-side partial combine, so a boilerplate line
   *      occurring in 10^9 documents costs each map task one struct, not
   *      a 10^9-row sorted partition (the window-rank formulation would);
   *   3. shuffle join back on the hash to flag survivors — the hot key
   *      joins 1 winner row to many, which AQE's skew split handles;
   *   4. one `groupBy(id)` reassembles text in position order.
   * Grouping is on `xxhash64` of the normalized paragraph — exact modulo
   * 64-bit collisions, the [[hashedShingleSets]] contract.
   *
   * Returns `(idCol, outCol, n_paras_kept, n_paras_total)`.
   */
  def dedupParagraphsGlobal(docs: DataFrame, idCol: String, textCol: String,
      outCol: String = "clean_text"): DataFrame = {
    // persisted: the exploded/normalized paragraph frame feeds BOTH the
    // winner aggregation and the flag join — uncached, each consumer
    // re-runs the split/explode/hash subtree from the source scan (the
    // house convention for double-consumed exploded frames; released by
    // [[unpersistAll]])
    val paras = Caches.track(docs.filter(col(textCol).isNotNull)
      .select(col(idCol), posexplode(split(col(textCol), "\n")).as(Seq("__pos", "__p0")))
      .select(col(idCol), col("__pos"), trim(col("__p0")).as("__p"))
      .filter(length(col("__p")) > 0)
      .withColumn("__k", xxhash64(lower(regexp_replace(col("__p"), "[0-9]", "0")))))
    val winners = paras.groupBy("__k")
      .agg(min(struct(col(idCol), col("__pos"))).as("__w"))
    val flagged = paras.join(winners, Seq("__k"))
      .withColumn("__keep", struct(col(idCol), col("__pos")) === col("__w"))
    flagged.groupBy(col(idCol))
      .agg(sort_array(collect_list(struct(col("__pos"), col("__p"), col("__keep")))).as("__a"))
      .select(col(idCol),
        array_join(transform(filter(col("__a"), x => x("__keep")), x => x("__p")), "\n")
          .as(outCol),
        size(filter(col("__a"), x => x("__keep"))).as("n_paras_kept"),
        size(col("__a")).as("n_paras_total"))
      .filter(col("n_paras_kept") >= 1)
  }

  /**
   * Fuzzy record linkage by Jaro–Winkler name similarity — the entity-
   * resolution step (matching author/site/organization name variants
   * across sources) that sits beside document dedup in a corpus pipeline.
   * Candidate pairs are BLOCKED on the first `blockChars` characters of
   * the name (the classic census blocking key: Winkler's comparator was
   * built for exactly this shape, where typos cluster AFTER the first
   * letters the prefix boost rewards), then scored with the native
   * codegen'd [[org.apache.spark.sql.graftx.JaroWinkler]] comparator and
   * kept at `>= threshold`.
   *
   * Scale shape: the join is an EQUI join on the block key — no cross
   * product ever forms; pair count per block is |L_b|·|R_b|, governed by
   * the blocking-key selectivity. A FIXED prefix length stops scaling the
   * moment the key space saturates (the r17 verdict's `blockChars=2` find:
   * 100 possible blocks ⇒ candidates grow ~n², 42× at 30× data), so
   * `blockChars <= 0` selects CORPUS-ADAPTIVE blocking: starting from 2,
   * the prefix widens until the estimated candidate count (Σ |L_b|·|R_b|,
   * two cheap count-aggregations per probe — no pairs form) fits
   * `targetPairsPerRow · max(|L|,|R|)`, keeping candidate volume ~linear
   * in the corpus at any scale. Widening is the standard blocking
   * recall trade: a true pair differing inside the first `b` characters
   * is missed — exactly the census-blocking contract, just auto-tuned.
   * The score column is rounded to 6 decimals (the house
   * engine-portability contract for derived doubles).
   *
   * Output: (`id_a`, `id_b`, `name_a`, `name_b`, `jw` round 6), one row
   * per surviving pair.
   */
  def linkNamesJaroWinkler(left: DataFrame, right: DataFrame,
      idL: String, nameL: String, idR: String, nameR: String,
      threshold: Double, blockChars: Int = 2,
      targetPairsPerRow: Long = 32L): DataFrame = {
    require(threshold >= 0.0 && threshold <= 1.0,
      s"linkNamesJaroWinkler: threshold must be in [0,1]: $threshold")
    require(targetPairsPerRow >= 1,
      s"linkNamesJaroWinkler: targetPairsPerRow must be >= 1: $targetPairsPerRow")
    import org.apache.spark.sql.graftx.TextFunctions.jaro_winkler
    val chosen = if (blockChars >= 1) blockChars else {
      // the probe loop runs up to 15 count-aggregations plus two counts —
      // cache the null-filtered one-column name projections so each probe
      // rescans a narrow cached frame instead of recomputing the callers'
      // upstream lineage every width (r18 ADVICE fix; Caches.unpersistAll
      // releases both)
      val lNames = graft.ext.Caches.track(
        left.select(col(nameL).as("__nm")).filter(col("__nm").isNotNull))
      val rNames = graft.ext.Caches.track(
        right.select(col(nameR).as("__nm")).filter(col("__nm").isNotNull))
      def candidates(b: Int): Long = {
        val lc = lNames.groupBy(substring(col("__nm"), 1, b).as("__blk"))
          .agg(count(lit(1)).as("__nl"))
        val rc = rNames.groupBy(substring(col("__nm"), 1, b).as("__blk"))
          .agg(count(lit(1)).as("__nr"))
        lc.join(rc, "__blk")
          .agg(coalesce(sum(col("__nl") * col("__nr")), lit(0L))).head().getLong(0)
      }
      val n = math.max(lNames.count(), rNames.count())
      val budget = targetPairsPerRow * math.max(n, 1L)
      // names are short; past 16 chars the prefix IS the name and widening
      // cannot shrink candidates further — stop there regardless. NB for
      // names SHORTER than a probed width, substring just returns the whole
      // name, so widening past the corpus's max name length is a no-op by
      // construction (the dedup_name_linkage oracle mirrors widths 2..8 and
      // relies on its fixture's 8-char names for exactly this reason)
      Iterator.range(2, 17).find(b => b == 16 || candidates(b) <= budget).get
    }
    val l = left.select(col(idL).as("id_a"), col(nameL).as("name_a"),
      substring(col(nameL), 1, chosen).as("__blk"))
      .filter(col("name_a").isNotNull)
    val r = right.select(col(idR).as("id_b"), col(nameR).as("name_b"),
      substring(col(nameR), 1, chosen).as("__blk"))
      .filter(col("name_b").isNotNull)
    l.join(r, Seq("__blk"))
      .withColumn("jw", round(jaro_winkler(col("name_a"), col("name_b")), 6))
      .filter(col("jw") >= threshold)
      .select("id_a", "id_b", "name_a", "name_b", "jw")
  }
}
