package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Scale-tier generator (r4 VERDICT item 1): build an sf1 tier (10×
  * the bench tier) plus a skew-stressed variant, derived from the
  * driver's read-only sf0.1 tables, under a repo-local directory.
  *
  *   runMain graft.ScaleGen /root/testdata/sf0.1 testdata-local [copies]
  *
  * sf1 construction: `copies` key-shifted replicas of every scaled
  * table, FK-consistent (l_orderkey shifts with o_orderkey, o_custkey
  * with c_custkey, …), with per-copy perturbations chosen so workload
  * SIZE scales ~linearly instead of quadratically:
  *  - documents: copy 0 is verbatim; in copy i ≥ 1 every 3rd word
  *    gets a copy suffix, so every 3-shingle differs from copy 0 —
  *    cross-copy LSH/minhash candidates vanish and dup structure is
  *    10× the per-copy structure, not O(copies²) cross products.
  *  - embeddings: one dimension nudged per copy (cross-copy cosine
  *    drops below the dedup threshold); vec_id < 3 queries and the
  *    8 LSH plane vectors (100..107) keep their original ids in
  *    copy 0 only.
  *  - events: ids/users shift; timestamps jitter by the copy index so
  *    sessionization/windows don't see 10 identical streams.
  * region/nation are dimension tables and stay as-is.
  *
  * sf1skew: same orders table, but ~30% of lineitem rows are re-keyed
  * to ONE hot o_orderkey (deterministic row hash) — the adversarial
  * input for the AQE skew-join demonstration (graft.SkewCheck). Only
  * the two join tables are written; the tier exists to stress one
  * join, not to re-host the full suite.
  */
object ScaleGen {

  val OrderKeyBase = 100000000L
  val CustKeyBase  = 10000000L
  val PartKeyBase  = 10000000L
  val SuppKeyBase  = 1000000L
  val DocIdBase    = 10000000L
  val VecIdBase    = 1000000L
  val EventIdBase  = 100000000L
  val UserIdBase   = 10000000L

  private def replicate(df: DataFrame, copies: Int)(shift: (DataFrame, Int) => DataFrame): DataFrame =
    (0 until copies).map(i => shift(df, i)).reduce(_ unionByName _)

  def main(args: Array[String]): Unit = Probe.run() { h =>
    val spark = h.spark
    val src = args.headOption.getOrElse("/root/testdata/sf0.1")
    val outRoot = args.lift(1).getOrElse("testdata-local")
    val copies = args.lift(2).map(_.toInt).getOrElse(10)

    val sf1 = s"$outRoot/sf1"
    def write(name: String, df: DataFrame): Unit = {
      df.write.mode("overwrite").parquet(s"$sf1/$name.parquet")
      println(s"[scalegen] $name: ${spark.read.parquet(s"$sf1/$name.parquet").count()} rows")
    }

    // dimension tables pass through
    Seq("region", "nation").foreach { t =>
      write(t, Tables.table(spark, src, t))
    }

    write("orders", replicate(Tables.orders(spark, src), copies) { (df, i) =>
      df.withColumn("o_orderkey", col("o_orderkey") + lit(i * OrderKeyBase))
        .withColumn("o_custkey", col("o_custkey") + lit(i * CustKeyBase))
    })
    write("lineitem", replicate(Tables.lineitem(spark, src), copies) { (df, i) =>
      df.withColumn("l_orderkey", col("l_orderkey") + lit(i * OrderKeyBase))
        .withColumn("l_partkey", col("l_partkey") + lit(i * PartKeyBase))
        .withColumn("l_suppkey", col("l_suppkey") + lit(i * SuppKeyBase))
    })
    write("customer", replicate(Tables.customer(spark, src), copies) { (df, i) =>
      df.withColumn("c_custkey", col("c_custkey") + lit(i * CustKeyBase))
    })
    write("supplier", replicate(Tables.supplier(spark, src), copies) { (df, i) =>
      df.withColumn("s_suppkey", col("s_suppkey") + lit(i * SuppKeyBase))
    })
    write("part", replicate(Tables.part(spark, src), copies) { (df, i) =>
      df.withColumn("p_partkey", col("p_partkey") + lit(i * PartKeyBase))
    })
    write("events", replicate(Tables.events(spark, src), copies) { (df, i) =>
      df.withColumn("event_id", col("event_id") + lit(i * EventIdBase))
        .withColumn("user_id", col("user_id") + lit(i * UserIdBase))
        .withColumn("ts", col("ts") + expr(s"INTERVAL $i SECONDS"))
    })
    write("documents", replicate(Tables.documents(spark, src), copies) { (df, i) =>
      val txt =
        if (i == 0) col("text")
        else expr(s"""array_join(transform(split(text, ' '),
                     |  (w, j) -> CASE WHEN j % 3 = 0 THEN concat(w, '_c$i') ELSE w END), ' ')"""
          .stripMargin)
      df.withColumn("doc_id", col("doc_id") + lit(i * DocIdBase))
        .withColumn("text", txt)
        .withColumn("n_chars", length(txt))
    })
    write("embeddings", replicate(Tables.embeddings(spark, src), copies) { (df, i) =>
      val emb =
        if (i == 0) col("embedding")
        else expr(s"""transform(embedding,
                     |  (x, j) -> CAST(CASE WHEN j = ${i % 64}
                     |    THEN x + ${0.2f + 0.01f * i}
                     |    ELSE x END AS FLOAT))""".stripMargin)
      df.withColumn("vec_id", col("vec_id") + lit(i * VecIdBase))
        .withColumn("embedding", emb)
    })

    // skew tier: one hot l_orderkey holding ~30% of all lineitem rows
    val skew = s"$outRoot/sf1skew"
    val hotKey = 0L // the minimum o_orderkey of copy 0 — always present
    spark.read.parquet(s"$sf1/orders.parquet")
      .write.mode("overwrite").parquet(s"$skew/orders.parquet")
    spark.read.parquet(s"$sf1/lineitem.parquet")
      .withColumn("l_orderkey",
        when(pmod(hash(col("l_orderkey"), col("l_linenumber")), lit(10)) < 3, lit(hotKey))
          .otherwise(col("l_orderkey")))
      .write.mode("overwrite").parquet(s"$skew/lineitem.parquet")
    val hotShare = spark.read.parquet(s"$skew/lineitem.parquet")
      .filter(col("l_orderkey") === hotKey).count()
    val total = spark.read.parquet(s"$skew/lineitem.parquet").count()
    println(s"[scalegen] sf1skew lineitem: $total rows, hot key $hotKey holds $hotShare (${100 * hotShare / total}%)")
  }
}
