package graft
package gates

import graft.Queries._
import graft.ext.{Classifier, Dedup, Graphs, Sampling, Similarity, TextAnalysis}
import graft.io.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/**
 * Multi-operator corpus pipelines (`pipeline_*`).
 */
object PipelineGates {

  /** Fixture for the `pipeline_html_clean` capstone: HTML whose BLOCK
    * structure carries a per-rule decider for every downstream c4 line
    * rule — two always-kept sentence paragraphs + a kept trailing div, a
    * title line that dies on terminal punctuation AND word count, a
    * too-short line (d%3), a `javascript` line kill (d%4), a
    * no-terminal-punctuation line (d%5), two extra `<li>` lines (d%2), a
    * `lorem ipsum` whole-doc kill (d%13), NULL html (d%19). Without
    * htmlExtract's block→newline structure the whole document would be
    * ONE line and every per-line rule would fire on the wrong unit — the
    * seam this composition gate exists to pin. */
  private def synthHtmlCleanDocs(s: SparkSession, d: String): DataFrame = {
    val did = col("doc_id")
    def inj(m: Int, suffix: String) =
      when(pmod(did, lit(m)) === 0, lit(suffix)).otherwise(lit(""))
    Tables.load(s, d, "documents").select(did,
      when(pmod(did, lit(19)) === 0, lit(null).cast("string"))
        .otherwise(concat(
          lit("<html><head><title>Page "), did.cast("string"),
          lit("</title></head><body><p>Document number "), did.cast("string"),
          lit(" opens with a full sentence.</p>"),
          lit("<p>Another proper line follows it right here.</p>"),
          inj(3, "<p>Too short.</p>"),
          inj(4, "<p>This line mentions javascript so it dies.</p>"),
          inj(5, "<p>no terminal punctuation on this line</p>"),
          inj(2, "<ul><li>List item one stays around.</li><li>List item two stays too.</li></ul>"),
          inj(13, "<p>Filler lorem ipsum phrase kills the whole doc.</p>"),
          lit("<div>Trailing block also ends properly.</div></body></html>"))).as("html"))
  }

  /** SQL twin of [[synthHtmlCleanDocs]] (a CTE named `hw`), used by the
    * `pipeline_html_clean` oracle. */
  private val synthHtmlCleanSql =
    """hw AS (SELECT doc_id,
      |  CASE WHEN doc_id % 19 = 0 THEN NULL ELSE
      |    '<html><head><title>Page ' || doc_id ||
      |    '</title></head><body><p>Document number ' || doc_id ||
      |    ' opens with a full sentence.</p>' ||
      |    '<p>Another proper line follows it right here.</p>' ||
      |    CASE WHEN doc_id % 3 = 0 THEN '<p>Too short.</p>' ELSE '' END ||
      |    CASE WHEN doc_id % 4 = 0
      |         THEN '<p>This line mentions javascript so it dies.</p>' ELSE '' END ||
      |    CASE WHEN doc_id % 5 = 0
      |         THEN '<p>no terminal punctuation on this line</p>' ELSE '' END ||
      |    CASE WHEN doc_id % 2 = 0
      |         THEN '<ul><li>List item one stays around.</li><li>List item two stays too.</li></ul>'
      |         ELSE '' END ||
      |    CASE WHEN doc_id % 13 = 0
      |         THEN '<p>Filler lorem ipsum phrase kills the whole doc.</p>' ELSE '' END ||
      |    '<div>Trailing block also ends properly.</div></body></html>'
      |  END AS html FROM documents)""".stripMargin

  /** Fixture for the `pipeline_web_graph` capstone: a deterministic
    * 10-host web (`site0.example` … `site9.example`) where each document
    * links its successor host (double-quoted), even documents add a hub
    * link carrying a `utm_source` tracking param (single-quoted), and
    * every fifth document repeats its first link UPPERCASED with an
    * explicit `:80` — the canonicalizer must collapse it onto the first
    * link's edge or the edge weights (and therefore the ranks) fork.
    * NULL html on d%19. */
  private def synthWebDocs(s: SparkSession, d: String): DataFrame = {
    val did = col("doc_id")
    def host(e: org.apache.spark.sql.Column) =
      concat(lit("site"), pmod(e, lit(10)).cast("string"), lit(".example"))
    Tables.load(s, d, "documents").select(did,
      when(pmod(did, lit(19)) === 0, lit(null).cast("string"))
        .otherwise(concat(
          lit("<html><body><p>page "), did.cast("string"), lit("</p>"),
          lit("<a href=\"http://"), host(did + 1), lit("/p/"), did.cast("string"),
          lit("\">next</a>"),
          when(pmod(did, lit(2)) === 0,
            concat(lit(" <a href='https://"), host(did * 3 + 2), lit("/q?id="),
              did.cast("string"), lit("&utm_source=feed'>hub</a>")))
            .otherwise(lit("")),
          when(pmod(did, lit(5)) === 0,
            concat(lit(" <A HREF=\"HTTP://"), upper(host(did + 1)), lit(":80/p/"),
              did.cast("string"), lit("\">dup</A>")))
            .otherwise(lit("")),
          lit("</body></html>"))).as("html"))
  }

  /** SQL twin of [[synthWebDocs]] (a CTE named `wg`). */
  private val synthWebSql =
    """wg AS (SELECT doc_id,
      |  CASE WHEN doc_id % 19 = 0 THEN NULL ELSE
      |    '<html><body><p>page ' || doc_id || '</p>' ||
      |    '<a href="http://site' || ((doc_id + 1) % 10) || '.example/p/' || doc_id ||
      |    '">next</a>' ||
      |    CASE WHEN doc_id % 2 = 0
      |         THEN ' <a href=' || chr(39) || 'https://site' || ((doc_id * 3 + 2) % 10) ||
      |              '.example/q?id=' || doc_id || '&utm_source=feed' || chr(39) || '>hub</a>'
      |         ELSE '' END ||
      |    CASE WHEN doc_id % 5 = 0
      |         THEN ' <A HREF="HTTP://SITE' || ((doc_id + 1) % 10) || '.EXAMPLE:80/p/' ||
      |              doc_id || '">dup</A>'
      |         ELSE '' END ||
      |    '</body></html>'
      |  END AS html FROM documents)""".stripMargin

  /** Exact-dedup corpus selection (the `pipeline_corpus_select` capstone,
    * shared by the sampled variant): fingerprint-dedup winners ∩ token-length
    * filter ∩ language-ID agreement, composed purely from library operators. */
  private def corpusSelect(s: SparkSession, d: String): DataFrame = {
    val doc = docs(s, d)
    val keep = Dedup.exact(
      doc.withColumn("fp",
        md5(concat_ws(" ", array_sort(array_distinct(TextAnalysis.tokens(col("text"))))))),
      Seq("fp"), "doc_id").select("doc_id")
    val toks = TextAnalysis.tokenStats(doc).select("doc_id", "n_tokens")
    val lang = TextAnalysis.langId(doc).select("doc_id", "pred_lang")
    doc.join(keep, "doc_id")
      .join(toks, "doc_id")
      .join(lang, "doc_id")
      .filter(col("n_tokens") >= 5 && col("pred_lang") === col("lang"))
      .select("doc_id", "lang", "n_chars", "n_tokens")
  }

  /** [[corpusSelect]] (the `pipeline_corpus_select` operator — certified
    * there, fresh there) shared as INPUT by the sampled/packed capstones,
    * whose own operators are hashFraction / packTokenBudget. */
  private val corpusSelectFixture =
    Fixture.frame("corpussel", "graft-fix-csel")(corpusSelect)

  /** Hashed features + labels for `pipeline_quality_classifier` — input
    * staging for the operator the gate certifies (trainLogistic's routed
    * IRLS fit, which runs fresh per invocation). */
  private val qualityFeaturesFixture =
    Fixture.frame("qfeats", "graft-fix-qf") { (s, d) =>
      val doc = docs(s, d).filter(col("text").isNotNull)
      def cnt(t: String) = size(filter(split(col("text"), "\\s+"), w => w === t))
      val labeled = doc.select(col("doc_id"),
        (cnt("table") > cnt("row")).cast("int").as("label"))
      Classifier.hashedFeatures(doc, "doc_id", "text", 128)
        .join(labeled, Seq("doc_id"))
    }

  /** The `pipeline_web_graph` head: htmlLinks (shared list expression) →
    * the shared canonicalization CTEs → the shared host CTE → host-level
    * edge list with counted weights — ending in the `e`/`nodes`/`nn`
    * relations [[rankSql]] consumes. Every stage is the same factored SQL
    * its standalone gate uses, so no seam can fork. */
  private val webGraphHeadSql =
    s"""WITH $synthWebSql,
       |lk AS (SELECT doc_id, $htmlLinksListExpr AS urls FROM wg),
       |u AS (SELECT doc_id, unnest(urls) AS url FROM lk),
       |$canonicalUrlCtes,
       |cu AS (SELECT doc_id, $canonicalUrlExpr AS url FROM k),
       |${urlHostSql(extra = ", url", src = "cu")},
       |e AS MATERIALIZED (SELECT 'site' || (doc_id % 10) || '.example' AS src,
       |        host AS dst, CAST(count(DISTINCT url) AS DOUBLE) AS w
       |        FROM h GROUP BY 1, 2),
       |nodes AS MATERIALIZED (SELECT src AS node FROM e UNION SELECT dst FROM e),
       |nn AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM nodes)""".stripMargin

  /** Oracle for `pipeline_corpus_select`, shared by the sampled variant. */
  private val corpusSelectSql =
    s"""WITH $langScoreCtes,
       |fp AS (SELECT doc_id,
       |              md5(array_to_string(list_sort(list_distinct(regexp_split_to_array(text, '\\s+'))), ' ')) AS fp
       |         FROM documents),
       |keep AS (SELECT min(doc_id) AS doc_id FROM fp GROUP BY fp),
       |q AS (SELECT doc_id, len(tk) AS n_tokens FROM t),
       |pred AS (SELECT doc_id, $predLangCase AS pred_lang FROM sc)
       |SELECT d.doc_id, d.lang, d.n_chars, q.n_tokens
       |  FROM documents d
       |  JOIN keep USING (doc_id)
       |  JOIN q USING (doc_id)
       |  JOIN pred USING (doc_id)
       | WHERE q.n_tokens >= 5 AND pred.pred_lang = d.lang""".stripMargin

  val gates: Seq[Gate] = Seq(
    // capstone pipeline: the actual training-corpus selection pass —
    // fingerprint-dedup winners ∩ length filter ∩ language-ID agreement,
    // composed purely from the library's operators
    Gate("pipeline_corpus_select", ((s, d) => corpusSelect(s, d)),
      corpusSelectSql),
    // sampled capstone: the full training-data selection shape — dedup →
    // quality/language filter → deterministic hash downsample. Gates
    // Sampling.hashFraction IN COMPOSITION (the selection must commute with
    // the upstream joins for the oracle to agree).
    Gate("pipeline_corpus_sample", ((s, d) =>
      // selection from the per-JVM fixture (r20 wave 2): corpusSelect is
      // the pipeline_corpus_select gate's operator (fresh there); the
      // operator HERE is the deterministic hash downsample over it
      Sampling.hashFraction(corpusSelectFixture(s, d), "doc_id", 500)),
      s"""SELECT * FROM (
         |$corpusSelectSql
         |) cs WHERE ${duckIdHash("doc_id")} % 1000 < 500""".stripMargin,
      fixtures = Seq(corpusSelectFixture)),
    // packed capstone: selection → training sequences. Gates
    // Packing.packTokenBudget IN COMPOSITION — the bins must be stable
    // against however the upstream dedup/filter joins partitioned the data
    Gate("pipeline_corpus_pack", ((s, d) =>
      // selection from the per-JVM fixture (see pipeline_corpus_sample)
      graft.ext.Packing.packTokenBudget(corpusSelectFixture(s, d), "doc_id", "n_tokens", 256, 4)),
      s"""WITH cs AS (
         |$corpusSelectSql
         |),
         |ph AS (SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens,
         |              ${duckIdHash("doc_id")} AS hh
         |         FROM cs WHERE n_tokens IS NOT NULL AND n_tokens >= 0),
         |pw AS (SELECT doc_id, CAST(hh % 4 AS INT) AS shard, n_tokens,
         |              sum(n_tokens) OVER (PARTITION BY hh % 4 ORDER BY hh, doc_id
         |                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_tokens AS cum_before
         |         FROM ph)
         |SELECT doc_id, shard, n_tokens, CAST(cum_before // 256 AS BIGINT) AS pack_id FROM pw""".stripMargin,
      fixtures = Seq(corpusSelectFixture)),
    // fuzzy capstone: same selection pass but deduped through NEAR-dup
    // clusters (jaccardPairs → connectedComponents) instead of exact
    // fingerprints — each cluster keeps only its canonical (minimum-id)
    // member; docs in no near-dup pair keep themselves. Exact duplicates
    // have Jaccard 1.0, so this strictly subsumes the fingerprint pass.
    // NB connectedComponents executes its iterative fixpoint eagerly at
    // build time (see its scaladoc) — inherent to the fuzzy path.
    Gate("pipeline_corpus_select_fuzzy", ((s, d) => {
      val doc = docs(s, d)
      // near-dup clusters from the per-JVM derived-frame fixture (r20 wave
      // 2): the eager jaccardPairs -> connectedComponents fixpoint is the
      // dedup_clusters gate's operator (still fresh THERE); here it is
      // shared INPUT to the selection composition under certification
      val clusters = jaccardClustersFixture(s, d)
      val losers = clusters.filter(col("node") =!= col("cluster"))
        .select(col("node").as("doc_id"))
      val toks = TextAnalysis.tokenStats(doc).select("doc_id", "n_tokens")
      val lang = TextAnalysis.langId(doc).select("doc_id", "pred_lang")
      doc.join(losers, Seq("doc_id"), "left_anti")
        .join(toks, "doc_id")
        .join(lang, "doc_id")
        .filter(col("n_tokens") >= 5 && col("pred_lang") === col("lang"))
        .select("doc_id", "lang", "n_chars", "n_tokens")
    }),
      // near-dup cluster losers (recursive-CTE transitive closure over the
      // exact Jaccard pair graph, non-minimum members) excluded, then the
      // same token-count and language-agreement filters
      s"""${jaccardCtes.replaceFirst("WITH ", "WITH RECURSIVE ")},
         |p AS (SELECT doc_a, doc_b FROM j WHERE jaccard >= 0.8),
         |e AS (SELECT doc_a AS src, doc_b AS dst FROM p
         |      UNION SELECT doc_b AS src, doc_a AS dst FROM p),
         |reach(node, label) AS (
         |  SELECT src AS node, src AS label FROM e
         |  UNION
         |  SELECT e2.src, r.label FROM e e2 JOIN reach r ON e2.dst = r.node),
         |losers AS (SELECT node FROM (SELECT node, min(label) AS cluster_id
         |                               FROM reach GROUP BY node) c
         |            WHERE node <> cluster_id),
         |$scCte,
         |q AS (SELECT doc_id, len(tk) AS n_tokens FROM t),
         |pred AS (SELECT doc_id, $predLangCase AS pred_lang FROM sc)
         |SELECT d.doc_id, d.lang, d.n_chars, q.n_tokens
         |  FROM documents d
         |  JOIN q USING (doc_id)
         |  JOIN pred USING (doc_id)
         | WHERE d.doc_id NOT IN (SELECT node FROM losers)
         |   AND q.n_tokens >= 5 AND pred.pred_lang = d.lang""".stripMargin,
      fixtures = Seq(jaccardClustersFixture)),
    // the cleaning-stage capstone: C4 line rules → Gopher doc rules →
    // exact fingerprint dedup over a corpus doubled with a shifted-id
    // replica (so the dedup stage is load-bearing: every survivor is the
    // min-id member of its content class); each stage's SQL twin is the
    // factored CTE chain the standalone gates share
    Gate("pipeline_clean_corpus", ((s, d) => {
      val base = synthC4Docs(s, d)
      val corpus = base.unionByName(
        base.select((col("doc_id") + 100000).as("doc_id"), col("text")))
      // cc feeds BOTH the gopher metrics and the survivor join — cache it
      // so the c4 split/filter subtree computes once (Bench/Verify release
      // via Caches.unpersistAll after the query)
      val cc = graft.ext.Caches.track(
        TextAnalysis.c4Clean(corpus, minLinesPerDoc = 3)
          .select(col("doc_id"), col("clean_text")))
      val gk = TextAnalysis.gopherQuality(
          cc.select(col("doc_id"), col("clean_text").as("text")),
          minWords = 10, maxBulletLineFrac = 0.5,
          gopherStopwords = Seq("sentence", "doc", "for", "this"))
        .filter(col("keep")).select("doc_id")
      val kept = cc.join(gk, "doc_id")
      Dedup.exact(
          kept.withColumn("fp", Dedup.contentFingerprint(col("clean_text"))),
          Seq("fp"), "doc_id")
        .select("doc_id", "clean_text")
    }),
      s"""WITH $synthC4Sql,
         |corpus AS (SELECT doc_id, text FROM c4
         |           UNION ALL SELECT doc_id + 100000, text FROM c4),
         |${c4CleanSql("corpus")},
         |gsrc AS (SELECT doc_id, clean_text AS text FROM cc),
         |${gopherMetricsSql("gsrc", "['sentence','doc','for','this']")},
         |gkeep AS (SELECT doc_id FROM gm WHERE $gopherKeepSql),
         |kept AS (SELECT cc.doc_id, cc.clean_text FROM cc JOIN gkeep USING (doc_id)),
         |fp AS (SELECT doc_id,
         |              md5(array_to_string(list_sort(list_distinct(
         |                regexp_split_to_array(clean_text, '\\s+'))), ' ')) AS fp
         |         FROM kept),
         |win AS (SELECT min(doc_id) AS doc_id FROM fp GROUP BY fp)
         |SELECT k.doc_id, k.clean_text
         |  FROM kept k JOIN win USING (doc_id)""".stripMargin),
    // the crawl-chain capstone (r18 verdict item 1): raw HTML → block-
    // structured text extraction → C4 LINE rules → exact fingerprint dedup
    // over a doubled corpus. The load-bearing seam is htmlExtract's
    // block→newline contract: c4Clean splits on \n, so the pre-r19
    // whitespace collapse degenerated every document to one line and the
    // per-line rules fired on the wrong unit
    Gate("pipeline_html_clean", ((s, d) => {
      val base = synthHtmlCleanDocs(s, d)
      val corpus = base.unionByName(
        base.select((col("doc_id") + 100000).as("doc_id"), col("html")))
      val ex = TextAnalysis.htmlExtract(corpus)
      val cleaned = TextAnalysis.c4Clean(
        ex.select(col("doc_id"), col("clean_text").as("text")), minLinesPerDoc = 3)
      Dedup.exact(
          cleaned.withColumn("fp", Dedup.contentFingerprint(col("clean_text"))),
          Seq("fp"), "doc_id")
        .select("doc_id", "clean_text", "n_lines_kept")
    }),
      // htmlExtract CTEs (the text_html_extract chain verbatim) feeding the
      // c4Clean CTEs (the text_c4_clean chain verbatim) feeding the exact-
      // fingerprint survivor rule — each stage's SQL twin is the factored
      // chain its standalone gate shares, so no stage can fork
      s"""WITH $synthHtmlCleanSql,
         |src AS (SELECT doc_id, html FROM hw
         |        UNION ALL SELECT doc_id + 100000, html FROM hw),
         |${htmlExtractSql("src")},
         |c4src AS (SELECT doc_id, clean_text AS text FROM hcc),
         |${c4CleanSql("c4src")},
         |fp AS (SELECT doc_id,
         |              md5(array_to_string(list_sort(list_distinct(
         |                regexp_split_to_array(clean_text, '\\s+'))), ' ')) AS fp
         |         FROM cc),
         |win AS (SELECT min(doc_id) AS doc_id FROM fp GROUP BY fp)
         |SELECT cc.doc_id, cc.clean_text, cc.n_lines_kept
         |  FROM cc JOIN win USING (doc_id)""".stripMargin),
    // CCNet head/middle/tail (Wenzek et al. 2020 §3.3): per-LANGUAGE
    // surprisal terciles via groupQuantileBins — one global cut would rank
    // languages by LM fit, not documents within a language
    Gate("pipeline_ccnet_buckets", ((s, d) => {
      val dd = docs(s, d)
      val scored = TextAnalysis.unigramSurprisal(dd, "doc_id", "text")
        .select(col("doc_id"), round(col("avg_surprisal"), 6).as("avg_surprisal"))
      // the scored frame feeds BOTH the per-language threshold aggregation
      // and the bin-assignment join — cache it so the multi-shuffle
      // surprisal subtree computes once (released via Caches.unpersistAll)
      val j = graft.ext.Caches.track(
        dd.select(col("doc_id"), col("lang")).join(scored, Seq("doc_id")))
      Sampling.groupQuantileBins(j, "lang", "avg_surprisal", 3)
        .select(col("doc_id"), col("lang"), col("avg_surprisal"),
          element_at(array(lit("head"), lit("middle"), lit("tail")), col("bin"))
            .as("bucket"))
    }),
      // CCNet §3.3 head/middle/tail: per-LANGUAGE surprisal terciles — the
      // same quantile_cont formula the sampling_quantile_bins gate proved
      // bit-identical to Spark's interpolated percentile; values ON a
      // threshold fall LOWER (strict >), the groupQuantileBins contract
      s"""WITH $surprisalCtes,
        |sc AS (SELECT tok.doc_id,
        |              round(avg(ln(CAST(n.n AS DOUBLE) / CAST(f.f AS DOUBLE))), 6) AS avg_surprisal
        |         FROM tok JOIN f USING (w), n GROUP BY tok.doc_id),
        |j AS (SELECT d.doc_id, d.lang, sc.avg_surprisal FROM documents d JOIN sc USING (doc_id)),
        |thr AS (SELECT lang, quantile_cont(avg_surprisal, [1.0/3, 2.0/3]) AS th
        |          FROM j GROUP BY lang)
        |SELECT j.doc_id, j.lang, j.avg_surprisal,
        |       (['head','middle','tail'])[1 + len(list_filter(thr.th, x -> j.avg_surprisal > x))] AS bucket
        |  FROM j LEFT JOIN thr USING (lang)""".stripMargin),
    // the crawl-frontier capstone (r18 verdict item 3): raw HTML →
    // htmlLinks (document-order outlinks) → URL canonicalization → host
    // extraction → host-level edge list → PageRank. Edge weight is
    // count(DISTINCT canonical url) per (src, dst) — NOT the link-row
    // count: urlHost alone already lowercases the authority and strips the
    // port, so a row count would collapse the fixture's UPPERCASE+:80 dup
    // link even with canonicalizeUrl broken; under DISTINCT the dup
    // collapses 2→1 only when canonicalization actually rewrites it, which
    // makes the canonicalization stage falsifiable by this gate
    // (r19 ADVICE fix). Each stage is the standalone gate's operator; the
    // composition pins the seams between them.
    Gate("pipeline_web_graph", ((s, d) => {
      val links = TextAnalysis.htmlLinks(synthWebDocs(s, d))
      val canon = links.select(col("doc_id"),
        ext.Urls.canonicalizeUrl(col("url")).as("curl"))
      val edges = canon.select(
          concat(lit("site"), pmod(col("doc_id"), lit(10)).cast("string"),
            lit(".example")).as("src"),
          ext.Urls.urlHost(col("curl")).as("dst"),
          col("curl"))
        .groupBy("src", "dst").agg(countDistinct(col("curl")).cast("double").as("w"))
      Graphs.pageRank(edges, "src", "dst", iterations = 10, weightCol = Some("w"))
        .select(col("node"), round(col("rank"), 6).as("rank"))
    }),
      // the same unrolled rank rounds over the web-graph head (htmlLinks →
      // canonicalize → host → counted edges) — stage CTEs shared with the
      // standalone gates
      rankSql(None, webGraphHeadSql)),
    // distributed quality-classifier training (fastText-shape logistic
    // regression, hashing-trick features — one aggregation job per step,
    // O(dim) to the driver): the label is a text-DERIVABLE property
    // (count('table') > count('row')) that is exactly linearly separable
    // in the feature space, so a correct trainer MUST fit it — the gate
    // emits a violation row if training accuracy lands under the 0.95
    // floor. Trained with preconditioned Adam (40 jobs, r16 retune —
    // down from 61 full-batch Adagrad jobs at the same floor margin);
    // samplePermille=0 (auto) makes gradient steps MINI-BATCH (~1000-row
    // deterministic hash slices, floor 250‰) once the corpus is big
    // enough for the slice to keep gradient SNR — the 100 TB shape, where
    // a full corpus pass per step is the expensive way to fit a linear
    // probe.
    // Measured (deterministic): 0.996 full-batch at sf0.01, 0.998 sampled
    // at sf0.1. NB the fixture's lang column is NOT text-derivable (all
    // five langs share one 31-token vocabulary) — a lang label here would
    // gate noise, not learning.
    Gate("pipeline_quality_classifier", ((s, d) => {
      import s.implicits._
      // hashed features + labels from the per-JVM fixture (r20 wave 2):
      // feature staging is corpus-deterministic input prep; the operator
      // this gate certifies is the routed trainLogistic fit below, which
      // runs fresh (count, dim probe, IRLS iterations, final metrics job)
      val feats = qualityFeaturesFixture(s, d)
      // AUTO-ROUTED (r19 verdict item 5): at dim 129 (≤ the MEASURED
      // Newton/adam crossover, Classifier.NewtonAutoMaxDim) the router
      // picks IRLS — 5 Newton iterations, same floor as the r16 40-step
      // Adam schedule with ~7x fewer sequential jobs — and a high-dim
      // hashing model would take the sampled-adam O(dim)/row path. NB the
      // r19 verdict hypothesized a corpus-SIZE crossover; the 30× fork
      // measurement refuted it (adam 45.3 s vs newton 24.3 s at 150k rows,
      // dim 129 — both paths are linear in rows), so auto routes on dim;
      // the crossover is spec-pinned (ClassifierSpec) and recorded in
      // BASELINE.md round 20.
      val m = Classifier.trainLogistic(feats, "label", steps = 6,
        learningRate = 0.3, samplePermille = 0, optimizer = "auto")
      val viol = if (m.trainAccuracy >= 0.95) Seq.empty[(String, Double)]
        else Seq(("train_accuracy_below_floor", m.trainAccuracy))
      viol.toDF("check", "value")
    }),
      // trainer contract: violations must be empty (see the gate)
      """SELECT CAST(NULL AS VARCHAR) AS check, CAST(NULL AS DOUBLE) AS value
        |  FROM documents WHERE FALSE""".stripMargin,
      fixtures = Seq(qualityFeaturesFixture)),
    // hard-negative mining (DPR shape): top-5 most-similar NON-duplicates —
    // the query's cos>=0.45 cluster-mates are excluded BEFORE the rank, so
    // every query still gets exactly k negatives. ROUTED duplicate
    // detection + bounded map-side top-k (r17 verdict: this gate's
    // brute-force regime was the marathon's worst scale-killer at 196×);
    // at gate scale the router's exact branch makes it bit-identical to
    // the brute-force oracle
    Gate("pipeline_hard_negatives", ((s, d) => {
      val e = emb(s, d)
      Similarity.hardNegativesRouted(e, e.filter(col("vec_id") < 10),
        "vec_id", "embedding", 5, 0.45)
    }),
      // hard negatives: brute-force top-k with the query's cluster-mates
      // excluded BEFORE the rank (same rank/tie convention as sim_topk)
      s"""$embClusterCtes,
         |mates AS (SELECT a.node AS qid, b.node AS nid
         |            FROM cl a JOIN cl b ON a.cluster = b.cluster)
         |SELECT query_id, neighbor_id FROM (
         |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         |         row_number() OVER (PARTITION BY q.vec_id
         |             ORDER BY list_cosine_similarity(q.embedding::DOUBLE[], c.embedding::DOUBLE[]) DESC,
         |                      c.vec_id) AS rn
         |    FROM embeddings q JOIN embeddings c ON q.vec_id <> c.vec_id
         |   WHERE q.vec_id < 10
         |     AND NOT EXISTS (SELECT 1 FROM mates m
         |                      WHERE m.qid = q.vec_id AND m.nid = c.vec_id)) x
         | WHERE rn <= 5""".stripMargin)
  )
}
