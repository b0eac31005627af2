package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/**
 * Scale-probe input builder — NOT part of the driver contract: replicates a
 * fixture dir `factor`× into a new dir with the SAME table names/schemas, so
 * `graft.Bench` can run unmodified one scale step up (the sf0.1 → "sf1"
 * nonlinearity probe in BASELINE.md).
 *
 * Replication preserves the workload's SHAPE, not just its row count:
 *  - foreign keys are perturbed consistently on both sides
 *    (`key*factor + rep`), so join fan-outs scale linearly;
 *  - `region`/`nation` stay as-is (broadcast dims at any scale);
 *  - `documents.text` is rep-tagged token-by-token, so corpus growth adds
 *    duplicate GROUPS instead of inflating group sizes — replicating
 *    identical texts would grow every near-dup block `factor`× and the
 *    quadratic-in-block paths `factor²`×, a shape real corpora don't have
 *    (dup-group size does not grow with corpus size);
 *  - `embeddings.embedding` gets deterministic per-rep directional jitter
 *    for the same reason: identical/near vectors stay near WITHIN a rep,
 *    while different reps of one vector diverge in direction (additive
 *    jitter — cosine is scale-invariant, so multiplicative would be a
 *    no-op).
 *
 * Usage: `runMain graft.BuildScaled /root/testdata/sf0.1 /tmp/graft_sf1 10`
 */
object BuildScaled {
  def main(args: Array[String]): Unit = {
    val Array(src, out, factorS) = args
    val factor = factorS.toInt
    require(factor >= 2, s"factor must be >= 2: $factor")
    val spark = io.Sessions.builder("local[32]", 64).appName("graft-build-scaled").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    // RAW reads on purpose (not Tables.load): events.ts must stay a
    // ns-epoch long so the written replica round-trips through Tables.load
    // exactly like the original fixture
    def raw(name: String) = spark.read.parquet(s"$src/$name.parquet")
    def write(name: String, df: DataFrame, parts: Int = 32): Unit = {
      df.repartition(parts).write.mode("overwrite").parquet(s"$out/$name.parquet")
      println(s"[scaleup] $name: ${spark.read.parquet(s"$out/$name.parquet").count()} rows")
    }
    def replicated(df: DataFrame, keyCols: Seq[String]): DataFrame = {
      val withRep = df.crossJoin(spark.range(factor).toDF("rep"))
      keyCols.foldLeft(withRep)((acc, k) =>
        acc.withColumn(k, col(k) * factor + col("rep")))
    }

    Seq("region", "nation").foreach(n => write(n, raw(n), 1))
    write("customer", replicated(raw("customer"), Seq("c_custkey")).drop("rep"))
    write("supplier", replicated(raw("supplier"), Seq("s_suppkey")).drop("rep"))
    write("part", replicated(raw("part"), Seq("p_partkey")).drop("rep"))
    write("orders", replicated(raw("orders"), Seq("o_orderkey", "o_custkey")).drop("rep"))
    write("lineitem",
      replicated(raw("lineitem"), Seq("l_orderkey", "l_partkey", "l_suppkey")).drop("rep"))
    write("events", replicated(raw("events"), Seq("event_id", "user_id")).drop("rep"))
    write("documents",
      replicated(raw("documents"), Seq("doc_id"))
        .withColumn("text",
          when(col("rep") === 0, col("text")).otherwise(
            concat_ws(" ", transform(split(col("text"), " "),
              w => concat(w, lit("~"), col("rep"))))))
        .drop("rep"))
    write("embeddings",
      replicated(raw("embeddings"), Seq("vec_id"))
        .withColumn("embedding",
          when(col("rep") === 0, col("embedding")).otherwise(
            transform(col("embedding"), (x, i) =>
              (x.cast("double") + lit(0.8) *
                sin((i + 1).cast("double") * (col("rep") + 1).cast("double") * 2.39996))
                .cast("float"))))
        .drop("rep"))
    println(s"[scaleup] DONE -> $out (factor $factor)")
    spark.stop()
  }
}
