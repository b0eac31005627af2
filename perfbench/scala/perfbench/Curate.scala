package perfbench

import scala.collection.mutable.ArrayBuffer

import graft.ext.{Dedup, Similarity, TextAnalysis}
import graft.store.TableStore
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/**
 * The training-data path: a bulk curation pass over a seeded corpus, then
 * arriving batches deduplicated against the persisted LSH index and
 * appended to it. Bound by compute and shuffle in `graft.ext` and the
 * `graftx` expressions; never touches `Runner` or `Ledger`.
 *
 * Inputs (seeded): documents of 50-80 tokens with planted exact-duplicate
 * groups (the same tokens, cased and punctuated differently, so they meet
 * only after normalization), near-duplicate groups (one token substituted
 * per member), semantic groups (distinct text, near-identical embeddings),
 * related pairs (six tokens substituted: Jaccard about 0.5, so LSH bands
 * often collide but verification must keep both) and short documents the
 * quality filter drops. Group sizes are drawn from
 * a fixed range, independent of corpus size, as real duplicate clusters
 * are. The corpus has a fixed number of distinct documents (`units`), so
 * the published corpus has the same size for every seed while the input
 * grows with the seeded duplicate share. Batches repeat published
 * documents at a seeded rate.
 */
final class Curate(c: Ctx) extends Workload(c) {
  import Curate._

  private val rnd = new scala.util.Random(ctx.seed)
  val units: Int = ctx.scaled(3000)
  val dupShare: Double = 0.08 + 0.04 * rnd.nextDouble()
  val maxGroup: Int = 2 + rnd.nextInt(3)
  val semShare: Double = 0.04 + 0.02 * rnd.nextDouble()
  val relatedShare: Double = 0.04 + 0.02 * rnd.nextDouble()
  val shortUnits: Int = units / 30
  val batchSize: Int = ctx.scaled(200)
  val repeatRate: Double = 0.1 + 0.2 * rnd.nextDouble()
  val batchesPerBulk = 6
  val order: Seq[Column] = Seq(col("n_tokens").desc, col("doc_id"))

  private var dir = ""
  private var store: TableStore = _
  private var index: Dedup.LshIndex = _
  private var corpus: IndexedSeq[Doc] = IndexedSeq.empty
  private var published: IndexedSeq[(Long, String)] = IndexedSeq.empty
  private var indexed = 0L
  private var nextId = 0L
  private var batchNo = 0
  private var step = 0
  private val ingestErrors = ArrayBuffer.empty[String]

  def targetRoot: String = s"$dir/store"

  private def tokens(r: scala.util.Random, n: Int): Array[String] = Array.fill(n)(s"w${r.nextInt(Vocab)}")

  /** Case and punctuation noise that normalization removes again. */
  private def render(r: scala.util.Random, ws: Seq[String]): String = ws.map { w =>
    val s = if (r.nextInt(5) == 0) w.capitalize else w
    r.nextInt(8) match { case 0 => s + ","; case 1 => s + "."; case _ => s }
  }.mkString(" ")

  private def vector(r: scala.util.Random): Array[Float] = Array.fill(Dim)(r.nextGaussian().toFloat)

  def setup(d: String): Unit = {
    dir = d
    val r = new scala.util.Random(ctx.seed * 7919 + 1)
    val out = ArrayBuffer.empty[Doc]
    def add(ws: Seq[String], emb: Array[Float], g: Int, sem: Int, short: Boolean): Unit =
      out += Doc(out.size.toLong, render(r, ws), emb, g, sem, short)
    val shortAt = r.shuffle((0 until units).toVector).take(shortUnits).toSet
    (0 until units).foreach { group =>
      val roll = r.nextDouble()
      val size = 2 + r.nextInt(maxGroup - 1)
      if (shortAt(group)) add(tokens(r, 10).toSeq, vector(r), -1, -1, short = true)
      else if (roll < dupShare) {
        val base = tokens(r, 50 + r.nextInt(31))
        val exact = r.nextBoolean()
        (0 until size).foreach { k =>
          val ws = if (exact || k == 0) base else base.updated(r.nextInt(base.length), s"w${r.nextInt(Vocab)}")
          add(ws.toSeq, vector(r), group, -1, short = false)
        }
      } else if (roll < dupShare + semShare) {
        val v = vector(r)
        (0 until size).foreach(_ =>
          add(tokens(r, 50 + r.nextInt(31)).toSeq, v.map(x => x + 0.02f * r.nextGaussian().toFloat), -1, group, short = false))
      } else if (roll < dupShare + semShare + relatedShare) {
        // two distinct documents (both must survive) that LSH often pairs
        val base = tokens(r, 50 + r.nextInt(31))
        val other = r.shuffle(base.indices.toVector).take(6)
          .foldLeft(base)((ws, i) => ws.updated(i, s"w${r.nextInt(Vocab)}"))
        add(base.toSeq, vector(r), -1, -1, short = false)
        add(other.toSeq, vector(r), -1, -1, short = false)
      } else add(tokens(r, 50 + r.nextInt(31)).toSeq, vector(r), -1, -1, short = false)
    }
    corpus = out.toIndexedSeq
    nextId = corpus.size.toLong
    val session = spark
    import session.implicits._
    corpus.map(x => (x.id, x.text, x.emb)).toDF("doc_id", "text", "emb").write.parquet(s"$d/input/docs")
    store = new TableStore(spark, targetRoot)
    batchNo = 0
    step = 0
    ingestErrors.clear()
  }

  def inputs: Seq[(String, Any)] = Seq(
    "docs" -> corpus.size,
    "dup_groups" -> corpus.filter(_.group >= 0).map(_.group).distinct.size,
    "dup_docs" -> corpus.count(_.group >= 0),
    "semantic_groups" -> corpus.filter(_.sem >= 0).map(_.sem).distinct.size,
    "short_docs" -> corpus.count(_.short), "max_group" -> maxGroup, "dup_share" -> dupShare,
    "batch_docs" -> batchSize, "repeat_rate" -> repeatRate,
    "input_bytes" -> Main.treeBytes(new java.io.File(s"$dir/input")))

  def kinds: Seq[String] = Seq("bulk", "ingest")
  override def minSamples(kind: String): Int = if (kind == "ingest") 6 else 1
  // the bulk pass is measured cold, as a curation job runs it once per
  // process; the first arriving batch needs the index it builds
  def warmup: Seq[String] = Nil

  def nextKind(): String = {
    step += 1
    if (step % (batchesPerBulk + 1) == 1) "bulk" else "ingest"
  }

  /** Survivors the planted structure dictates: every singleton, and one
    * member of each duplicate or semantic group; short documents dropped.
    * Both members of a related pair are singletons here. */
  private def expectedSurvivors(ids: Set[Long]): Seq[String] = {
    val bad = ArrayBuffer.empty[String]
    val live = corpus.filterNot(_.short)
    corpus.filter(d => d.short && ids(d.id)).foreach(d => bad += s"short doc ${d.id} kept")
    live.filter(d => d.group < 0 && d.sem < 0 && !ids(d.id)).foreach(d => bad += s"singleton ${d.id} dropped")
    (live.filter(_.group >= 0).groupBy(_.group).toSeq.map("dup group" -> _) ++
      live.filter(_.sem >= 0).groupBy(_.sem).toSeq.map("semantic group" -> _)).foreach {
      case (what, (g, members)) =>
        val kept = members.count(m => ids(m.id))
        if (kept != 1) bad += s"$what $g keeps $kept of ${members.size}"
    }
    bad.toSeq
  }

  def run(kind: String): OpResult = kind match {
    case "bulk" => bulk()
    case "ingest" => ingest()
  }

  private def bulk(): OpResult = {
    val traced = t.active
    val pinned = ArrayBuffer.empty[DataFrame]
    // the traced run materializes each stage so its execution is attributed
    def stage(name: String)(body: => DataFrame): DataFrame = {
      val df = t.span(s"ext.$name")(body)
      if (!traced) df
      else {
        val p = df.persist()
        pinned += p
        t.span(s"ext.$name.exec")(p.count())
        p
      }
    }
    val in = spark.read.parquet(s"$dir/input/docs")
    val ((uniq, pairs), dur) = timed {
      val norm = stage("normalize")(in.withColumn("norm", TextAnalysis.normalize(col("text"))))
      val good = stage("quality") {
        val q = TextAnalysis.quality(norm, "doc_id", "text", minTokens = 30)
        norm.join(q.filter(!col("short_doc")).select("doc_id", "n_tokens"), "doc_id")
      }
      val uniq = stage("exact")(Dedup.exact(good, Seq("norm"), "doc_id"))
      val pairs = stage("minhash")(Dedup.minhashLshPairs(uniq, "doc_id", "norm"))
      val clusters = stage("components")(Dedup.connectedComponents(pairs, "doc_a", "doc_b"))
      val best = stage("keepbest")(Dedup.keepBest(uniq, clusters, "doc_id", order))
      val kept = stage("semantic")(Similarity.semanticDedupRouted(best, "doc_id", "emb", SemThreshold, order))
      t.span("store.publish")(store.atomicOverwrite("corpus", kept.select("doc_id", "text", "norm", "n_tokens")))
      index = t.span("ext.index_build")(Dedup.buildLshIndex(store, "lsh", store.read("corpus"), "doc_id", "norm"))
      if (!traced) Dedup.unpersistAll()
      (uniq, pairs)
    }
    val extra = if (!traced) Map.empty[String, Double] else {
      val confirmed = pairs.count()
      val candidates = lshCandidates(uniq)
      Map("ext.lsh.candidate_yield" -> (if (candidates == 0) 0.0 else confirmed.toDouble / candidates))
    }
    pinned.foreach(_.unpersist())
    Dedup.unpersistAll()
    published = spark.read.parquet(s"$targetRoot/corpus").select("doc_id", "norm").collect()
      .map(r => (r.getLong(0), r.getString(1))).toIndexedSeq
    indexed = published.size.toLong
    val bad = expectedSurvivors(published.map(_._1).toSet)
    OpResult(dur, bad.isEmpty, corpus.size.toLong, bad.take(5).mkString("; "),
      extra + ("ext.caches_live" -> spark.sparkContext.getPersistentRDDs.size.toDouble))
  }

  /** Candidate pairs of the bulk pass's MinHash-LSH banding (64 hashes,
    * 16 bands of 4 rows, the operator's defaults), for its candidate yield. */
  private def lshCandidates(uniq: DataFrame): Long = {
    import org.apache.spark.sql.graftx.VectorFunctions.minhash_signature
    val sets = Dedup.hashedShingleSets(uniq, "doc_id", "norm", 3)
    val keyed = sets.select(col("doc_id"), minhash_signature(col("hs"), 64).as("sig"))
      .select(col("doc_id"), explode(array((0 until 16).map(j =>
        struct(lit(j).as("band"), hash(slice(col("sig"), j * 4 + 1, 4)).as("bucket"))): _*)).as("bk"))
    Dedup.bucketPairs(keyed, "bk", "doc_id").count()
  }

  private def ingest(): OpResult = {
    val r = new scala.util.Random(ctx.seed * 104729 + batchNo)
    batchNo += 1
    val batch = (0 until batchSize).map { _ =>
      val id = nextId
      nextId += 1
      if (r.nextDouble() < repeatRate) {
        val ws = published(r.nextInt(published.size))._2.split(" ")
        val copy = if (r.nextBoolean()) ws else ws.updated(r.nextInt(ws.length), s"w${r.nextInt(Vocab)}")
        (id, render(r, copy.toSeq), true)
      } else (id, render(r, tokens(r, 50 + r.nextInt(31)).toSeq), false)
    }
    val session = spark
    import session.implicits._
    val df = batch.map(b => (b._1, b._2)).toDF("doc_id", "text")
    val (accepted, dur) = timed {
      val b = df.withColumn("norm", TextAnalysis.normalize(col("text")))
      val surv = t.span("ext.index_dedup")(
        Dedup.dedupeAgainstLshIndex(store, index, b, "doc_id", "norm", NearThreshold)).persist()
      val accepted = t.span("ext.index_dedup.exec")(surv.select("doc_id").as[Long].collect())
      t.span("ext.index_append")(Dedup.appendToLshIndex(store, index, surv, "doc_id", "norm"))
      surv.unpersist()
      Dedup.unpersistAll()
      accepted
    }
    indexed += accepted.length
    val fresh = batch.filterNot(_._3).map(_._1).toSet
    val ok = accepted.toSet == fresh
    if (!ok) ingestErrors += s"batch $batchNo: accepted ${accepted.length}, fresh ${fresh.size}, " +
      s"repeats accepted ${accepted.count(a => !fresh(a))}"
    OpResult(dur, ok, batch.size.toLong, ingestErrors.lastOption.filter(_ => !ok).getOrElse(""),
      Map("ext.caches_live" -> spark.sparkContext.getPersistentRDDs.size.toDouble))
  }

  def checks(): Seq[Check] = {
    val ids = spark.read.parquet(s"$targetRoot/corpus").select("doc_id").collect().map(_.getLong(0)).toSet
    val bad = expectedSurvivors(ids)
    val inIndex = spark.read.parquet(s"$targetRoot/lsh").count()
    Seq(
      Check("each planted dup group keeps exactly one member", bad.isEmpty, bad.take(5).mkString("; ")),
      Check("planted repeats in arriving batches are rejected, fresh documents kept",
        ingestErrors.isEmpty, ingestErrors.take(5).mkString("; ")),
      Check("the index holds the published corpus and every accepted document", inIndex == indexed,
        s"index rows $inIndex, expected $indexed"))
  }
}

object Curate {
  val Vocab = 20000
  val Dim = 64
  val NearThreshold = 0.8
  val SemThreshold = 0.95

  final case class Doc(id: Long, text: String, emb: Array[Float], group: Int, sem: Int, short: Boolean)
}
