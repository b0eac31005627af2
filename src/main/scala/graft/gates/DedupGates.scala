package graft
package gates

import graft.Queries._
import graft.ext.{Dedup, Similarity}
import graft.io.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/**
 * Exact, fuzzy, span and semantic deduplication (`dedup_*`).
 */
object DedupGates {

  /** SQL twin of [[synthParaDocs]] (a CTE named `pd`), used by the
    * `dedup_paragraphs_global` oracle. */
  private val synthParaSql =
    """pd AS (SELECT doc_id,
      |  CASE WHEN doc_id % 17 = 0 THEN NULL ELSE concat_ws(chr(10),
      |    'Subscribe to the newsletter today.',
      |    CASE WHEN doc_id % 13 = 0 THEN NULL
      |         ELSE 'Unique insight ' || translate(doc_id::VARCHAR, '0123456789', 'abcdefghij') || ' appears once.' END,
      |    '',
      |    'Shared footer for group ' || translate((doc_id % 10)::VARCHAR, '0123456789', 'abcdefghij') || ' here.',
      |    CASE WHEN doc_id % 7 = 0 THEN 'Echo line for doc ' || translate(doc_id::VARCHAR, '0123456789', 'abcdefghij') || ' repeats.' END,
      |    CASE WHEN doc_id % 7 = 0 THEN 'Echo line for doc ' || translate(doc_id::VARCHAR, '0123456789', 'abcdefghij') || ' repeats.' END,
      |    'Release 123 of series ' || (doc_id % 3) || ' shipped.',
      |    '   ')
      |  END AS text FROM documents)""".stripMargin

  /** Hostile fixture for the `dedup_paragraphs_global` gate: a global
    * boilerplate line (every doc), per-group shared footers, per-doc unique
    * lines (ids spelled in LETTERS so digit folding cannot collide them),
    * within-doc echoes, a digit-folding collision line ("Release 123" ≡
    * "Release 000" everywhere), blank/whitespace-only lines, NULL-text
    * docs, and `%13` docs made ENTIRELY of corpus-duplicated lines so the
    * empty-document drop is exercised. Mirrored verbatim in
    * [[synthParaSql]]. */
  private def synthParaDocs(s: SparkSession, d: String): DataFrame = {
    val uid = translate(col("doc_id").cast("string"), "0123456789", "abcdefghij")
    val gid = translate(pmod(col("doc_id"), lit(10)).cast("string"), "0123456789", "abcdefghij")
    Tables.load(s, d, "documents").select(col("doc_id"),
      when(pmod(col("doc_id"), lit(17)) === 0, lit(null).cast("string"))
        .otherwise(concat_ws("\n",
          lit("Subscribe to the newsletter today."),
          when(pmod(col("doc_id"), lit(13)) === 0, lit(null).cast("string"))
            .otherwise(concat(lit("Unique insight "), uid, lit(" appears once."))),
          lit(""),
          concat(lit("Shared footer for group "), gid, lit(" here.")),
          when(pmod(col("doc_id"), lit(7)) === 0,
            concat(lit("Echo line for doc "), uid, lit(" repeats."))),
          when(pmod(col("doc_id"), lit(7)) === 0,
            concat(lit("Echo line for doc "), uid, lit(" repeats."))),
          concat(lit("Release 123 of series "), pmod(col("doc_id"), lit(3)).cast("string"),
            lit(" shipped.")),
          lit("   "))).as("text"))
  }

  /** The sharpen gate's planted fixture (500-vector slice + near-dup plants
    * + a 120-vector dense cluster) — pure plan construction, rebuilt per
    * invocation. */
  private def sharpenFixture(s: SparkSession, d: String): DataFrame =
    Similarity.plantDenseCluster(
      Similarity.plantNearDups(
        emb(s, d).filter(col("vec_id") < 500), "vec_id", "embedding"),
      "vec_id", "embedding", m = 120, mag = 0.40)

  /** The sharpen gate's corpus-deterministic CERTIFICATION sides — exact
    * pairs at 0.45, the cos >= 0.99 near-dup band, the 12×12 forcing
    * estimate — collected once per JVM (bounded: a few thousand id pairs).
    * The escalated LSH search itself is NOT cached: it is the operator the
    * gate certifies, and runs fresh against these sides every time. */
  private val sharpenCert =
    Fixture("sharpencert") { (s, d) =>
      val e = sharpenFixture(s, d)
      val exact = Similarity.cosinePairs(e, "vec_id", "embedding", 0.45)
      val near = Similarity.cosinePairs(e, "vec_id", "embedding", 0.99)
      val est = Similarity.lshCandidateEstimate(e, "vec_id", "embedding")
      (exact.collect().toSeq, near.collect().toSeq, exact.schema, est)
    }

  /** The routed gate's corpus-deterministic CERTIFICATION sides — the
    * exact brute-force pairs at 0.45 and the planted cos >= 0.99 near-dup
    * band over the same plantNearDups fixture — collected once per JVM
    * (bounded id-pair lists; the [[sharpenCert]] class). The ROUTED LSH
    * search at autoSharpen=false is NOT cached: it is the operator this
    * gate certifies and runs fresh against these sides every time. */
  private val routedCert =
    Fixture("routedcert") { (s, d) =>
      val e = Similarity.plantNearDups(emb(s, d), "vec_id", "embedding")
      val exact = Similarity.cosinePairs(e, "vec_id", "embedding", 0.45)
      val near = Similarity.cosinePairs(e, "vec_id", "embedding", 0.99)
      (exact.collect().toSeq, near.collect().toSeq, exact.schema)
    }

  private val lshArchIndexDir = lshBaseIndex("arch", 200)

  /** Shared CTE chain for the duplicate-SPAN oracles: positional 8-gram
    * strings → grams in ≥ 2 distinct docs → marked 1-based start positions →
    * gaps-and-islands → per-island spans `sp(doc_id, s, e)` in the Spark
    * output's 0-based inclusive coordinates. DuckDB compares gram STRINGS
    * where Spark compares gram hashes — identical modulo 64-bit collisions,
    * the shingle-family contract. */
  private val spanIslandCtes =
    """WITH t AS (SELECT doc_id, text, regexp_split_to_array(text, '\s+') AS tk FROM documents),
      |p AS (SELECT doc_id, tk, unnest(range(1, len(tk) - 6)) AS i FROM t WHERE len(tk) >= 8),
      |g AS (SELECT doc_id, i, array_to_string(tk[i:i+7], chr(1)) AS gram FROM p),
      |dup AS (SELECT gram FROM g GROUP BY gram HAVING count(DISTINCT doc_id) >= 2),
      |m AS (SELECT g.doc_id, g.i FROM g JOIN dup USING (gram)),
      |x AS (SELECT doc_id, i, max(i + 7) OVER (PARTITION BY doc_id ORDER BY i
      |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pe FROM m),
      |y AS (SELECT doc_id, i, CASE WHEN pe IS NULL OR i > pe + 1 THEN 1 ELSE 0 END AS brk FROM x),
      |z AS (SELECT doc_id, i, sum(brk) OVER (PARTITION BY doc_id ORDER BY i) AS isl FROM y),
      |sp AS (SELECT doc_id, min(i) - 1 AS s, max(i) + 6 AS e FROM z GROUP BY doc_id, isl)""".stripMargin

  private val jaccardPairsSql =
    s"$jaccardCtes\nSELECT doc_a, doc_b, jaccard FROM j WHERE jaccard >= 0.8"

  private val dedupClustersSql =
    s"""$clusterCtes
       |SELECT node AS doc_id, min(label) AS cluster_id FROM reach GROUP BY node""".stripMargin

  /** `dedup_name_linkage` oracle with the ADAPTIVE blocking width derived
    * in SQL — the exact twin of [[graft.ext.Dedup.linkNamesJaroWinkler]]'s
    * `blockChars = 0` estimator: per candidate width b, Σ|L_p|·|R_p| over
    * matched b-char prefixes; pick the smallest b in 2..8 whose estimate
    * fits `32·max(|L|,|R|)`, else 8 (the fixture's names are exactly 8
    * chars, so the engine's wider fallback widths block identically). */
  private val nameLinkageAdaptiveSql: String = {
    val candCtes = (2 to 8).map { b =>
      s"""cb$b AS (SELECT coalesce(sum(la.nl * ra.nr), 0) AS cand
         |  FROM (SELECT substr(name, 1, $b) AS p, count(*) AS nl FROM nm GROUP BY 1) la
         |  JOIN (SELECT substr(name, 1, $b) AS p, count(*) AS nr FROM v GROUP BY 1) ra
         |    ON la.p = ra.p)""".stripMargin
    }.mkString(",\n")
    val chosen = (2 to 7).foldRight("8") { (b, rest) =>
      s"CASE WHEN (SELECT cand FROM cb$b) <= bud.b THEN $b ELSE $rest END"
    }
    s"""WITH nm AS (SELECT c_custkey AS id,
       |       translate(lpad(CAST((c_custkey * 2654435761) % 100000000 AS VARCHAR), 8, '0'),
       |                 '0123456789', 'abcdefghij') AS name
       |         FROM customer),
       |v AS (SELECT id, CASE CAST(id % 4 AS INT)
       |        WHEN 0 THEN name
       |        WHEN 1 THEN substr(name, 1, 2) || substr(name, 4, 8)
       |        WHEN 2 THEN substr(name, 1, 3) || substr(name, 5, 1) || substr(name, 4, 1) || substr(name, 6, 8)
       |        ELSE substr(name, 1, 7) || 'z' END AS name FROM nm),
       |$candCtes,
       |bud AS (SELECT 32 * GREATEST((SELECT count(*) FROM nm), (SELECT count(*) FROM v)) AS b),
       |ch AS (SELECT ($chosen) AS k FROM bud),
       |l AS (SELECT id AS id_a, name AS name_a,
       |             substr(name, 1, (SELECT k FROM ch)) AS blk FROM nm),
       |r AS (SELECT id AS id_b, name AS name_b,
       |             substr(name, 1, (SELECT k FROM ch)) AS blk FROM v)
       |SELECT id_a, id_b, name_a, name_b,
       |       round(jaro_winkler_similarity(name_a, name_b), 6) AS jw
       |  FROM l JOIN r ON l.blk = r.blk
       | WHERE round(jaro_winkler_similarity(name_a, name_b), 6) >= 0.84""".stripMargin
  }

  val gates: Seq[Gate] = Seq(
    // ---- dedup (§2.12) ----
    Gate("dedup_exact", ((s, d) => Dedup.exact(docs(s, d), Seq("lang", "source"), "doc_id")),
      """SELECT doc_id, text, lang, source, n_chars FROM (
        |  SELECT *, row_number() OVER (PARTITION BY lang, source ORDER BY doc_id) AS rn
        |    FROM documents) x WHERE rn = 1""".stripMargin),
    // cross-source contamination matrix: distinct trigram-shingle overlap
    // + Jaccard per source pair — the mixing-governance report; gram-keyed
    // self-join bounded at #sources^2 fan-out per gram
    Gate("dedup_source_overlap", ((s, d) =>
      Dedup.sourceOverlapMatrix(docs(s, d), "source", "doc_id", "text")),
      // string trigrams stand in for the operator's hashed shingles (set
      // semantics identical modulo 64-bit collisions — the decontaminate
      // contract); jaccard is the exact integer division, unrounded
      """WITH t AS (SELECT doc_id, source, regexp_split_to_array(text, '\s+') AS tk
        |             FROM documents WHERE text IS NOT NULL),
        |s AS (SELECT doc_id, source,
        |             CASE WHEN len(tk) >= 3
        |                  THEN list_distinct(list_transform(range(1, len(tk) - 1),
        |                                     i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2]))
        |                  ELSE [array_to_string(tk, ' ')] END AS sh
        |        FROM t),
        |sg AS (SELECT DISTINCT source AS src, unnest(sh) AS g FROM s),
        |tot AS (SELECT src, count(*) AS t FROM sg GROUP BY src),
        |cm AS (SELECT a.src AS source_a, b.src AS source_b, count(*) AS n_common
        |         FROM sg a JOIN sg b ON a.g = b.g AND a.src < b.src GROUP BY 1, 2)
        |SELECT source_a, source_b, ta.t AS n_grams_a, tb.t AS n_grams_b, n_common,
        |       CAST(n_common AS DOUBLE) / CAST(ta.t + tb.t - n_common AS DOUBLE) AS jaccard
        |  FROM cm JOIN tot ta ON source_a = ta.src JOIN tot tb ON source_b = tb.src""".stripMargin),
    // canonical-URL dedup — the FIRST dedup stage of every crawl pipeline
    // (one fetch per canonical page identity, before any content hashing):
    // Dedup.exact keyed on canonicalizeUrl, so tracking-param/fragment/
    // case/port variants of one page collapse to the lowest doc_id
    Gate("dedup_url_canonical", ((s, d) => {
      val u = synthUrls(s, d)
        .withColumn("__curl", ext.Urls.canonicalizeUrl(col("url")))
      Dedup.exact(u, Seq("__curl"), "doc_id").drop("__curl")
    }),
      // the SAME shared canonicalization CTEs as text_url_canonicalize; the
      // survivor rule is min(doc_id) per canonical key (the dedup_exact
      // row_number contract — one row per id makes them identical)
      s"""WITH $synthUrlSql,
         |$canonicalUrlCtes,
         |cu AS (SELECT doc_id, url,
         |       $canonicalUrlExpr AS curl
         |         FROM k),
         |win AS (SELECT min(doc_id) AS doc_id FROM cu GROUP BY curl)
         |SELECT cu.doc_id, cu.url FROM cu JOIN win USING (doc_id)""".stripMargin),
    Gate("dedup_fingerprint", ((s, d) => {
      // content-based exact dedup: one cheap shuffle on the md5 fingerprint
      // of the sorted distinct token set (the scale-friendly first pass
      // before any fuzzy dedup)
      val withFp = docs(s, d).withColumn("fp", Dedup.contentFingerprint(col("text")))
      Dedup.exact(withFp, Seq("fp"), "doc_id").drop("fp")
    }),
      """SELECT doc_id, text, lang, source, n_chars FROM documents WHERE doc_id IN (
        |  SELECT min(doc_id) FROM (
        |    SELECT doc_id, md5(array_to_string(list_sort(list_distinct(regexp_split_to_array(text, '\s+'))), ' ')) AS fp
        |      FROM documents) f
        |  GROUP BY fp)""".stripMargin),
    // canonical selection: collapse each fingerprint cluster to its BEST
    // member (longest text, doc_id tiebreak) instead of dedup_fingerprint's
    // min-id winner; singletons never shuffle — keepBest broadcasts the
    // (tiny) cluster membership over the corpus
    Gate("dedup_keep_best", ((s, d) => {
      val doc = docs(s, d)
      val fp = doc.select(col("doc_id"), Dedup.contentFingerprint(col("text")).as("fp"))
      val dupFps = fp.groupBy("fp").agg(count(lit(1)).as("__c"))
        .filter(col("__c") > 1).select("fp")
      val clusters = fp.join(dupFps, Seq("fp"))
        .select(col("doc_id").as("node"), col("fp").as("cluster"))
      Dedup.keepBest(doc, clusters, "doc_id", Seq(col("n_chars").desc, col("doc_id")))
    }),
      """WITH fps AS (
        |  SELECT doc_id, md5(array_to_string(list_sort(list_distinct(regexp_split_to_array(text, '\s+'))), ' ')) AS fp
        |    FROM documents),
        |dup AS (SELECT fp FROM fps GROUP BY fp HAVING count(*) > 1),
        |members AS (SELECT f.doc_id, f.fp FROM fps f JOIN dup USING (fp)),
        |winners AS (SELECT doc_id FROM (
        |  SELECT m.doc_id, row_number() OVER (PARTITION BY m.fp
        |           ORDER BY d.n_chars DESC, d.doc_id) AS rn
        |    FROM members m JOIN documents d USING (doc_id)) x WHERE rn = 1)
        |SELECT doc_id, text, lang, source, n_chars FROM documents
        | WHERE doc_id NOT IN (SELECT doc_id FROM members)
        |UNION ALL
        |SELECT doc_id, text, lang, source, n_chars FROM documents
        | WHERE doc_id IN (SELECT doc_id FROM winners)""".stripMargin),
    // incremental ingest dedup: the doc_id >= 250 "new crawl" deduped
    // against the doc_id < 250 established corpus by content fingerprint —
    // the archive is never re-paired, cost tracks the batch
    Gate("dedup_incremental", ((s, d) => {
      val doc = docs(s, d)
      Dedup.dedupeAgainstCorpus(
        doc.filter(col("doc_id") >= 250), doc.filter(col("doc_id") < 250),
        "doc_id", "text")
    }),
      """WITH fps AS (
        |  SELECT doc_id, md5(array_to_string(list_sort(list_distinct(regexp_split_to_array(text, '\s+'))), ' ')) AS fp
        |    FROM documents WHERE text IS NOT NULL),
        |corpus AS (SELECT DISTINCT fp FROM fps WHERE doc_id < 250),
        |keep AS (SELECT min(doc_id) AS doc_id FROM fps
        |          WHERE doc_id >= 250 AND fp NOT IN (SELECT fp FROM corpus)
        |          GROUP BY fp)
        |SELECT doc_id, text, lang, source, n_chars FROM documents
        | WHERE doc_id IN (SELECT doc_id FROM keep)""".stripMargin),
    // fuzzy incremental ingest against a PERSISTED LSH index: the corpus'
    // shingle sets + band buckets are built and stored once, the batch
    // probes the stored buckets and verifies exact Jaccard against the
    // stored sets — the archive is never re-shingled per ingest. Exact
    // recall at this operating point (band curve ≈ 0.9998 at 64/16 t=0.8;
    // verified-exact output), so the brute-force Jaccard oracle applies.
    Gate("dedup_incremental_fuzzy", ((s, d) => {
      // archive index from the per-JVM fixture cache (copied tree — the
      // r20 fixture-class move; Verify still builds it from scratch); the
      // PROBE/VERIFY leg — the operator this gate certifies — runs fresh
      val store = lshCorpusIndexDir.storeCopy(s, d, "graft-lsh-idx")
      val doc = docs(s, d)
      val idx = Dedup.loadLshIndex(store, "corpus_lsh") // reload, not the in-memory handle
      Dedup.dedupeAgainstLshIndex(store, idx, doc.filter(col("doc_id") >= 250),
        "doc_id", "text", 0.8)
    }),
      // brute-force batch×corpus Jaccard at the verified-exact operating point
      incrementalFuzzySql,
      fixtures = Seq(lshCorpusIndexDir)),
    // the full incremental-ingest LOOP over a growing index: archive index
    // ← docs < 200; batch 1 (200..349) dedupes against it and its SURVIVORS
    // are APPENDED to the index (appendToLshIndex — two O(1)-committed
    // generation appends, the existing index never rewritten); batch 2
    // (≥ 350) must then dedupe against archive ∪ batch-1 survivors. At
    // sf0.01 three batch-2 docs are near-dups ONLY of batch-1 survivors —
    // if the append didn't take, they'd wrongly survive and the hash gate
    // would catch it
    Gate("dedup_incremental_fuzzy_grow", ((s, d) => {
      // archive index from the per-JVM fixture cache (copied tree); the
      // LOOP — dedupe, APPEND survivors, dedupe against the grown index —
      // is the operator and runs fresh on the copy every invocation
      val store = lshArchIndexDir.storeCopy(s, d, "graft-lsh-grow")
      val doc = docs(s, d)
      val idx = Dedup.loadLshIndex(store, "arch")
      val survivors1 = Dedup.dedupeAgainstLshIndex(store, idx,
        doc.filter(col("doc_id") >= 200 && col("doc_id") < 350), "doc_id", "text", 0.8)
      Dedup.appendToLshIndex(store, idx, survivors1, "doc_id", "text")
      Dedup.dedupeAgainstLshIndex(store, idx, doc.filter(col("doc_id") >= 350),
        "doc_id", "text", 0.8)
    }),
      // two-stage brute force: batch-1 survivors join the reference corpus
      // before batch 2 is compared (the growing-index loop's oracle)
      s"""$trigramCte,
         |surv1 AS (SELECT b.doc_id, b.sh FROM s b
         |           WHERE b.doc_id >= 200 AND b.doc_id < 350
         |             AND NOT EXISTS (
         |               SELECT 1 FROM s c WHERE c.doc_id < 200
         |                  AND len(list_intersect(b.sh, c.sh))::DOUBLE
         |                        / len(list_distinct(b.sh || c.sh)) >= 0.8)),
         |arch AS (SELECT sh FROM s WHERE doc_id < 200
         |         UNION ALL SELECT sh FROM surv1),
         |hits AS (SELECT DISTINCT b.doc_id
         |           FROM s b JOIN arch c ON b.doc_id >= 350
         |          WHERE len(list_intersect(b.sh, c.sh))::DOUBLE
         |                  / len(list_distinct(b.sh || c.sh)) >= 0.8)
         |SELECT * FROM documents
         | WHERE doc_id >= 350 AND text IS NOT NULL
         |   AND doc_id NOT IN (SELECT doc_id FROM hits)""".stripMargin,
      fixtures = Seq(lshArchIndexDir)),
    Gate("dedup_ngram_jaccard", ((s, d) => Dedup.jaccardPairs(docs(s, d), "doc_id", "text", 3, 0.8)),
      jaccardPairsSql),
    // short-text fuzzy matching: Levenshtein ≤ 5 over 40-char prefixes with
    // full-text length difference ≤ 5, blocked by language — the
    // in-word-edit dedup rule jaccard/minhash can't see. Length blocking is
    // internal (minimal maxDist+1-wide buckets with adjacent-bucket
    // probing — the r19 verdict's adaptive-blocking fix, where the optimum
    // is the constant floor), so a boundary-straddling pair is still found
    // and the per-band candidate slack is the contract's own ±5, not the
    // old fixed-64 conservatism that grew ~quadratically at 30×
    Gate("dedup_edit_distance", ((s, d) =>
      Dedup.editDistancePairs(docs(s, d), "doc_id", "text", Seq("lang"),
        maxDist = 5, prefixLen = 40)),
      // the unblocked-within-maxDist contract: same language, full lengths
      // within 5, prefix edit distance within 5 — no length-bucket blindness
      """SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |       levenshtein(substr(a.text, 1, 40), substr(b.text, 1, 40)) AS edit_dist
        |  FROM documents a JOIN documents b
        |    ON a.lang = b.lang AND a.doc_id < b.doc_id
        |   AND abs(length(a.text) - length(b.text)) <= 5
        | WHERE levenshtein(substr(a.text, 1, 40), substr(b.text, 1, 40)) <= 5""".stripMargin),
    // decontamination: docs 0-9 stand in for a benchmark set; corpus docs
    // sharing >= 2 distinct trigrams with any of them are removed
    Gate("dedup_decontaminate", ((s, d) => {
      val doc = docs(s, d)
      Dedup.decontaminate(doc.filter(col("doc_id") >= 10), doc.filter(col("doc_id") < 10),
        "doc_id", "text", n = 3, minOverlap = 2)
    }),
      s"""$trigramCte,
         |bl AS (SELECT DISTINCT unnest(sh) AS g FROM s WHERE doc_id < 10),
         |ds AS (SELECT doc_id, unnest(sh) AS g FROM s WHERE doc_id >= 10),
         |hits AS (SELECT ds.doc_id, count(*) AS h FROM ds JOIN bl USING (g)
         |          GROUP BY ds.doc_id)
         |SELECT d.* FROM documents d
         | WHERE d.doc_id >= 10
         |   AND d.doc_id NOT IN (SELECT doc_id FROM hits WHERE h >= 2)""".stripMargin),
    // membership decontamination at blocklist scale: Bloom prefilter (built
    // from Spark's own runtime-filter expressions) + exact confirm join —
    // every seventh doc's content fingerprint is the blocklist, result is
    // exactly the NOT-IN-by-fingerprint corpus (left-anti null semantics)
    Gate("dedup_decontaminate_bloom", ((s, d) => {
      val doc = docs(s, d)
      Dedup.decontaminateExactBloom(doc, doc.filter(col("doc_id") % 7 === 2), "text")
    }),
      // exact NOT-IN by content fingerprint (left-anti null semantics: NULL
      // fingerprints kept, blocklist NULLs ignored) — the bloom prefilter is
      // an implementation detail the result must be invisible to
      """WITH fp AS (SELECT doc_id,
        |              md5(array_to_string(list_sort(list_distinct(
        |                regexp_split_to_array(text, '\s+'))), ' ')) AS f
        |              FROM documents),
        |bl AS (SELECT DISTINCT f FROM fp WHERE doc_id % 7 = 2 AND f IS NOT NULL)
        |SELECT d.doc_id, d.text, d.lang, d.source, d.n_chars
        |  FROM documents d JOIN fp ON d.doc_id = fp.doc_id
        | WHERE fp.f IS NULL OR fp.f NOT IN (SELECT f FROM bl)""".stripMargin),
    // substring-level dedup (Lee et al. 2022 shape): merged per-doc token
    // intervals covered by any 8-gram occurring in >= 2 distinct docs
    Gate("dedup_span_exact", ((s, d) =>
      Dedup.duplicateSpans(docs(s, d), "doc_id", "text", n = 8)),
      // duplicated 8-gram spans, merged per doc (gaps-and-islands)
      s"""$spanIslandCtes
         |SELECT doc_id, CAST(s AS BIGINT) AS span_start, CAST(e AS BIGINT) AS span_end,
         |       CAST(e - s + 1 AS BIGINT) AS span_tokens
         |  FROM sp""".stripMargin),
    // the span APPLICATION: duplicated-span tokens removed (docs with spans
    // are whitespace-retokenized and rejoined; spanless docs — including
    // NULL text — pass through byte-identical)
    Gate("dedup_span_strip", ((s, d) => {
      val doc = docs(s, d)
      Dedup.stripDuplicateSpans(doc,
        Dedup.duplicateSpans(doc, "doc_id", "text", n = 8), "doc_id", "text")
        .select("doc_id", "clean_text")
    }),
      // span application: for docs WITH spans, tokens at covered indexes
      // removed and survivors rejoined on single spaces; spanless docs pass
      // through byte-identical (Spark keeps their ORIGINAL text, so the
      // oracle must not retokenize them)
      s"""$spanIslandCtes,
         |tok AS (SELECT doc_id, unnest(tk) AS w, generate_subscripts(tk, 1) AS i
         |          FROM t WHERE doc_id IN (SELECT doc_id FROM sp)),
         |cov AS (SELECT doc_id, unnest(range(s + 1, e + 2)) AS i FROM sp),
         |keep AS (SELECT tok.doc_id, tok.w, tok.i FROM tok
         |          WHERE NOT EXISTS (SELECT 1 FROM cov
         |                             WHERE cov.doc_id = tok.doc_id AND cov.i = tok.i)),
         |clean AS (SELECT doc_id, string_agg(w, ' ' ORDER BY i) AS ct
         |            FROM keep GROUP BY doc_id)
         |SELECT d.doc_id,
         |       CASE WHEN d.doc_id IN (SELECT doc_id FROM sp)
         |            THEN coalesce(c.ct, '') ELSE d.text END AS clean_text
         |  FROM documents d LEFT JOIN clean c ON d.doc_id = c.doc_id""".stripMargin),
    // CCNet cross-corpus paragraph dedup: first occurrence of each
    // normalized paragraph survives, documents reassembled, emptied docs
    // dropped — over the hostile boilerplate/echo/digit-fold fixture
    Gate("dedup_paragraphs_global", ((s, d) =>
      Dedup.dedupParagraphsGlobal(synthParaDocs(s, d), "doc_id", "text")),
      // the full CCNet chain in SQL: split/trim/drop-blank lines, digit-fold
      // normalization, ROW_NUMBER first-occurrence (the Spark side's
      // min(struct(doc, pos)) — identical winner: (doc_id, pos) is a total
      // order), position-ordered reassembly, emptied docs dropped
      s"""WITH $synthParaSql,
         |ls AS (SELECT doc_id, string_split(text, chr(10)) AS l FROM pd
         |        WHERE text IS NOT NULL),
         |p0 AS (SELECT doc_id, i - 1 AS pos, trim(l[i]) AS para
         |         FROM ls, unnest(range(1, len(l) + 1)) AS t(i)
         |        WHERE len(trim(l[i])) > 0),
         |r AS (SELECT doc_id, pos, para, row_number() OVER (
         |               PARTITION BY lower(regexp_replace(para, '[0-9]', '0', 'g'))
         |               ORDER BY doc_id, pos) AS rn
         |        FROM p0),
         |g AS (SELECT doc_id,
         |             string_agg(CASE WHEN rn = 1 THEN para END, chr(10) ORDER BY pos) AS clean_text,
         |             count(CASE WHEN rn = 1 THEN 1 END) AS n_paras_kept,
         |             count(*) AS n_paras_total
         |        FROM r GROUP BY doc_id)
         |SELECT doc_id, clean_text, n_paras_kept, n_paras_total
         |  FROM g WHERE n_paras_kept >= 1""".stripMargin),
    // dup clusters: transitive closure over the exact Jaccard pairs, each
    // cluster labeled by its minimum doc id (the canonical keeper)
    Gate("dedup_clusters", ((s, d) =>
      Dedup.connectedComponents(
        Dedup.jaccardPairs(docs(s, d), "doc_id", "text", 3, 0.8), "doc_a", "doc_b")
        .select(col("node").as("doc_id"), col("cluster").as("cluster_id"))),
      dedupClustersSql),
    Gate("dedup_minhash_lsh", ((s, d) => Dedup.minhashLshPairs(docs(s, d), "doc_id", "text", 3, 64, 16, 0.8)),
      jaccardPairsSql), // verified-exact output; recall ≈ 0.9998 at t=0.8 (see Dedup)
    // near-superset pairs (containment vs the smaller set) — catches
    // truncated/boilerplate-wrapped copies Jaccard under-scores
    Gate("dedup_containment", ((s, d) =>
      Dedup.containmentPairs(docs(s, d), "doc_id", "text", 3, 0.9)),
      // brute-force containment over all pairs (the prefix×full-index plan
      // must reproduce it exactly)
      s"""$trigramCte,
         |c AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         |             len(list_intersect(a.sh, b.sh))::DOUBLE
         |               / least(len(a.sh), len(b.sh)) AS containment
         |        FROM s a JOIN s b ON a.doc_id < b.doc_id)
         |SELECT doc_a, doc_b, containment FROM c WHERE containment >= 0.9""".stripMargin),
    // gated with the md5-based token hash (computable bit-identically in
    // DuckDB) so the full SimHash pipeline is oracle-checked; production
    // default stays xxhash64 (Dedup.xxTokenHash)
    Gate("dedup_simhash", ((s, d) =>
      Dedup.simhashPairs(docs(s, d), "doc_id", "text", 3, Dedup.md5TokenHash)),
      // full SimHash pipeline in SQL: 60-bit md5-prefix token hash (identical
      // to Dedup.md5TokenHash), per-bit majority vote, hamming ≤ 3 pairs
      """WITH tok AS (
        |  SELECT doc_id, unnest(regexp_split_to_array(text, '\s+')) AS tk FROM documents),
        |th AS (
        |  SELECT doc_id, CAST('0x' || substr(md5(tk), 1, 15) AS BIGINT) AS h FROM tok),
        |votes AS (
        |  SELECT doc_id, b.b AS bit,
        |         sum(CASE WHEN (h >> b.b) & 1 = 1 THEN 1 ELSE -1 END) AS v
        |    FROM th, (SELECT unnest(range(64)) AS b) b
        |   GROUP BY doc_id, b.b),
        |fp AS (
        |  SELECT doc_id,
        |         sum(CASE WHEN v > 0 THEN (1::BIGINT << bit) ELSE 0 END)::BIGINT AS simhash
        |    FROM votes GROUP BY doc_id)
        |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |       CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT) AS hamming
        |  FROM fp a JOIN fp b ON a.doc_id < b.doc_id
        | WHERE bit_count(xor(a.simhash, b.simhash)) <= 3""".stripMargin),
    // gated through the ROUTER (r17 verdict: the gated plan must be the one
    // that survives 100×): at gate scale the router picks the exact
    // IVF-blocked path — bit-identical to cosinePairs, so the brute-force
    // oracle applies — and past the measured crossover (20 k vectors, wide
    // threshold) it switches to the banded-LSH scale path
    Gate("dedup_embedding_cosine", ((s, d) =>
      Similarity.cosinePairsRouted(emb(s, d), "vec_id", "embedding", 0.45)),
      """SELECT a.vec_id AS id_a, b.vec_id AS id_b
        |  FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
        | WHERE list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]) >= 0.45""".stripMargin),
    // SemDeDup (Abbas et al. 2023): embedding-space near-dup groups collapsed
    // to their best member by document quality (n_chars desc, id asc tie) —
    // vec_id ≡ doc_id in the fixtures, so the quality column cross-joins the
    // two modalities; singletons pass through untouched. Exact pair recall at
    // this threshold (IVF blocking), so the brute-force recursive-CTE oracle
    // reproduces the survivor set row-for-row.
    // ROUTED pair step (r17 verdict): exact at gate scale ⇒ the brute-force
    // recursive-CTE oracle still reproduces the survivor set row-for-row;
    // past the crossover the pairs come from banded LSH and the
    // components/keep-best stages are unchanged
    Gate("dedup_semantic_keepbest", ((s, d) => {
      val q = emb(s, d).join(
        docs(s, d).select(col("doc_id").as("vec_id"), col("n_chars")), Seq("vec_id"))
      Similarity.semanticDedupRouted(q, "vec_id", "embedding", 0.45,
        Seq(col("n_chars").desc, col("vec_id").asc))
        .select("vec_id", "label", "n_chars")
    }),
      // SemDeDup survivor set: brute-force cosine pairs → recursive-CTE
      // components (min-id label) → per-cluster winner by (n_chars DESC,
      // vec_id ASC) + all singletons
      s"""$embClusterCtes,
         |q AS (SELECT em.vec_id, em.label, d.n_chars
         |        FROM embeddings em JOIN documents d ON em.vec_id = d.doc_id),
         |win AS (SELECT vec_id, label, n_chars FROM (
         |          SELECT q.*, cl.cluster,
         |                 row_number() OVER (PARTITION BY cl.cluster
         |                     ORDER BY q.n_chars DESC, q.vec_id ASC) AS rn
         |            FROM q JOIN cl ON q.vec_id = cl.node)
         |         WHERE rn = 1)
         |SELECT vec_id, label, n_chars FROM q
         | WHERE vec_id NOT IN (SELECT node FROM cl)
         |UNION ALL
         |SELECT vec_id, label, n_chars FROM win""".stripMargin),
    // wide-threshold routed scale path: LSH pre-filter + exact verification.
    // Gated on its CONTRACT (violations must be empty): zero false
    // positives vs the exact operator at the same threshold, and zero
    // missed pairs in the near-dup band (cos >= 0.99 — where the band curve
    // puts collision probability at ~1 under the fixed seed). Recall BELOW
    // that band is the documented trade (see cosinePairsLsh scaladoc).
    // The fixtures carry no cos >= 0.99 pairs (max pairwise ~0.51,
    // DuckDB-verified), so the near-dup band is PLANTED in-query
    // (plantNearDups: 10 jittered companions at cos ~1-2e-6) and a vacuity
    // guard emits a violation row if the band is ever empty — without it
    // the missed_near_dup branch compares two empty sets and the recall
    // half of the contract can never fail (the round-12 vacuity).
    // the AUTO-SHARPEN ladder, driver-certified (r18 verdict item 5): a
    // planted dense moderate-similarity cluster (120 vectors at pairwise
    // cos ~0.92 around the min-id embedding) blows the caller's 12×12
    // band shape past the explicit 12000-pair budget, so WITHOUT the
    // escalation ladder this gate dies in bucketPairs' loud refusal —
    // completing at all certifies the production sharpening path
    // end-to-end. The corpus is id-capped (vec_id < 500): at base SFs
    // those are 500 independent vectors; in the 30× replica they are 17
    // originals × 30 directionally-jittered reps whose mutual moderate
    // similarity adds ~4–5 k sharpest-rung candidates — the 12000 budget
    // clears that mass where the r19 marathon's first cut (4000, cluster
    // 80) refused, while the 12×12 estimate stays cluster-dominated
    // (≳16 k) and over budget at every SF, keeping the forcing invariant.
    // Contract branches mirror dedup_cosine_lsh_routed: zero false
    // positives vs the exact search at the same threshold, zero missed
    // pairs in the planted cos >= 0.99 near-dup band (the ladder's
    // P(candidate | near-dup) >= 0.99-per-rung design), plus the vacuity
    // guard. Oracle: the violation set is empty.
    Gate("dedup_cosine_lsh_sharpen", ((s, d) => {
      val e = sharpenFixture(s, d)
      // certification sides (two exact brute-force searches + the forcing
      // estimate) come from the per-JVM fixture cache — corpus-
      // deterministic, built once per process (r19 verdict item 3: the
      // steady-state bench measures the OPERATOR below, not the oracle's
      // brute-force cost; a fresh JVM still pays and certifies the build)
      val (exactRows, nearRows, pairSchema, est12) = sharpenCert(s, d)
      import scala.jdk.CollectionConverters._
      val exact = s.createDataFrame(exactRows.asJava, pairSchema)
      val nearDup = s.createDataFrame(nearRows.asJava, pairSchema)
      // the OPERATOR under certification — the escalated LSH search runs
      // fresh on every invocation
      val lsh = Similarity.trackedPersist(
        Similarity.cosinePairsLsh(e, "vec_id", "embedding", 0.45,
          pairBudget = 12000L))
      val fp = lsh.exceptAll(exact)
        .select(lit("false_positive").as("kind"), col("id_a"), col("id_b"))
      val missedNearDup = nearDup.exceptAll(lsh)
        .select(lit("missed_near_dup").as("kind"), col("id_a"), col("id_b"))
      val vacuous = nearDup.groupBy().agg(count(lit(1)).as("n"))
        .filter(col("n") < 10)
        .select(lit("vacuous_near_dup_band").as("kind"),
          col("n").as("id_a"), lit(-1L).as("id_b"))
      // the forcing premise, asserted at RUNTIME (r19 review fix): the
      // gate certifies the ladder only if the caller-shape estimate
      // actually exceeds the budget — computed from the operator's own
      // bucketing primitive, so fixture drift that un-forces the
      // escalation turns into a violation row instead of a silent pass
      val forcing = {
        import s.implicits._
        (if (est12 > 12000L) Seq.empty[(String, Long, Long)]
         else Seq(("forcing_not_engaged", est12.toLong, -1L)))
          .toDF("kind", "id_a", "id_b")
      }
      fp.unionByName(missedNearDup).unionByName(vacuous).unionByName(forcing)
    }),
      // the sharpen gate's contract is the same empty violation set — the
      // escalation itself is certified structurally (the query cannot
      // complete without it: the fixture exceeds the explicit budget at the
      // caller's shape, which is the loud-refusal path otherwise)
      """SELECT CAST(NULL AS VARCHAR) AS kind, CAST(NULL AS BIGINT) AS id_a,
        |       CAST(NULL AS BIGINT) AS id_b
        |  FROM embeddings WHERE FALSE""".stripMargin,
      fixtures = Seq(sharpenCert)),
    Gate("dedup_cosine_lsh_routed", ((s, d) => {
      val e = Similarity.plantNearDups(emb(s, d), "vec_id", "embedding")
      // certification sides (the two exact brute-force searches) come
      // from the per-JVM fixture cache — corpus-deterministic, the
      // sharpenCert class (r20 wave 4); a fresh JVM still pays and
      // certifies the brute-force builds
      val (exactRows, nearRows, pairSchema) = routedCert(s, d)
      import scala.jdk.CollectionConverters._
      val exact = s.createDataFrame(exactRows.asJava, pairSchema)
      val nearDup = s.createDataFrame(nearRows.asJava, pairSchema)
      // autoSharpen OFF: the contract certifies the DOCUMENTED 12×12 band
      // curve (and the gate's exact-search side is only feasible below the
      // crossover anyway — at marathon scale this gate's pair-budget
      // refusal remains the designed behavior). The routed LSH search is
      // the OPERATOR and runs fresh; it feeds two contract branches, so
      // it persists (this query is one pair search, not two)
      val lsh = Similarity.trackedPersist(
        Similarity.cosinePairsLsh(e, "vec_id", "embedding", 0.45, autoSharpen = false))
      val fp = lsh.exceptAll(exact)
        .select(lit("false_positive").as("kind"), col("id_a"), col("id_b"))
      val missedNearDup = nearDup.exceptAll(lsh)
        .select(lit("missed_near_dup").as("kind"), col("id_a"), col("id_b"))
      val vacuous = nearDup.groupBy().agg(count(lit(1)).as("n"))
        .filter(col("n") < 10)
        .select(lit("vacuous_near_dup_band").as("kind"),
          col("n").as("id_a"), lit(-1L).as("id_b"))
      fp.unionByName(missedNearDup).unionByName(vacuous)
    }),
      """SELECT CAST(NULL AS VARCHAR) AS kind, CAST(NULL AS BIGINT) AS id_a,
        |       CAST(NULL AS BIGINT) AS id_b
        |  FROM embeddings WHERE FALSE""".stripMargin,
      fixtures = Seq(routedCert)),
    // ---- fuzzy record linkage (native Jaro–Winkler comparator) ----
    // census-style blocked name linkage over deterministic pseudo-names
    // (Knuth-hashed custkey digits → letters) and their perturbed variants
    // (identity / char drop / adjacent swap / last-char replace by id%4);
    // the gate cross-checks the codegen'd JaroWinkler kernel against
    // DuckDB's independent implementation over every blocked pair
    Gate("dedup_name_linkage", ((s, d) => {
      val base = customer(s, d).select(col("c_custkey").as("id"),
        translate(lpad(pmod(col("c_custkey") * lit(2654435761L), lit(100000000L))
          .cast("string"), 8, "0"), "0123456789", "abcdefghij").as("name"))
      val variants = base.select(col("id"),
        when(col("id") % 4 === 0, col("name"))
          .when(col("id") % 4 === 1,
            concat(substring(col("name"), 1, 2), substring(col("name"), 4, 8)))
          .when(col("id") % 4 === 2,
            concat(substring(col("name"), 1, 3), substring(col("name"), 5, 1),
              substring(col("name"), 4, 1), substring(col("name"), 6, 8)))
          .otherwise(concat(substring(col("name"), 1, 7), lit("z"))).as("name"))
      // CORPUS-ADAPTIVE blocking (blockChars = 0 — r17 verdict: a pinned
      // 2-char prefix saturates at 100 blocks and candidates grow ~n²).
      // At gate scale the estimator lands on the oracle's 2-char key
      // (1500 names → ~15 candidate pairs/row, inside the 32/row target);
      // a bigger corpus widens the prefix instead of grinding
      Dedup.linkNamesJaroWinkler(base, variants, "id", "name", "id", "name",
        threshold = 0.84, blockChars = 0)
    }),
      // independent-implementation cross-check of the codegen'd JaroWinkler
      // kernel: DuckDB's comparator over every blocked candidate pair. The
      // ORACLE MIRRORS THE ADAPTIVE BLOCKING ESTIMATOR (r18 review fix): the
      // engine widens the prefix until Σ|L_p|·|R_p| fits 32·n, so a fixed
      // 2-char oracle key would silently fork the gate the moment the corpus
      // outgrows ~3.2 k names — instead the unrolled cb2..cb8 CTEs compute
      // the same candidate estimates and `ch` picks the same minimal width
      // (names are exactly 8 chars, so the engine's ≥8 fallback blocks
      // identically to width 8), keeping the gate hash-exact at ANY SF
      nameLinkageAdaptiveSql)
  )
}
