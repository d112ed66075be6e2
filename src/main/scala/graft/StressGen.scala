package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Stress-fixture builder: derive a ×FACTOR copy of a scale-factor
  * directory into a scratch dir (never under /root/testdata), for the
  * round-10 scaling-exponent bench. sf0.1 is overhead-bound on this box
  * (BASELINE's local[4] ≈ local[32] observation), so the 100 TB design
  * claims otherwise rest on plan shape alone; this builder buys the
  * measurement: the same query at n and ~10n, with the fixture grown the
  * way a real corpus grows.
  *
  * The growth model is UNION-WITH-PERTURBATION, seedless and
  * deterministic (copy index + murmur3 only — no RNG), engineered so
  * every documented per-query cost model keeps its asymptotic class:
  *
  *  - TPC-H relations scale ×k with CONSISTENT keys: copy k of lineitem
  *    references copy k of orders/part/supplier, copy k of orders
  *    references copy k of customer (key' = key + k·max_base_key), so
  *    join fan-outs and selectivities are IDENTICAL to base — only
  *    volume grows. nation/region stay fixed (genuine dimensions).
  *  - events scale ×k with user_id offset per copy (users ×k, per-user
  *    history constant — sessions/windows per user unchanged) and ts
  *    shifted +k µs (dedup keys stay distinct; the hour histogram is
  *    unchanged, so every window holds ×k rows).
  *  - documents scale ×k with every TOKEN suffixed `_k`: copy k's
  *    shingle space is DISJOINT from copy j's, so the near-dup graph
  *    becomes k disjoint isomorphic copies of the base graph — nodes ×k,
  *    edges ×k, same component structure. (Naive duplication would make
  *    every doc a k-clique with its copies: edges ×k², an artifact no
  *    real corpus growth exhibits. Constant duplicate DENSITY is the
  *    honest model.) lang/source distributions unchanged.
  *  - embeddings scale ×k under a per-copy deterministic SIGN-FLIP mask
  *    (e'ᵢ = ±eᵢ by murmur3(i, copy)): norms and marginal distributions
  *    are exactly preserved while copies of near-random vectors stay
  *    near-orthogonal to their originals — cosine near-dup density stays
  *    constant instead of every vector gaining k−1 exact twins. The
  *    query/centroid rows (vec_id 0..8) exist once, in copy 0.
  */
object StressGen {

  def main(args: Array[String]): Unit = {
    val base = if (args.length > 0) args(0) else "/root/testdata/sf0.1"
    val out = if (args.length > 1) args(1) else "/tmp/graft_stress"
    val factor = if (args.length > 2) args(2).toInt else 10
    require(!out.startsWith("/root/testdata"), "never write under /root/testdata")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = GraftSession.builder(cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    build(spark, base, out, factor)
    spark.stop()
  }

  def build(spark: SparkSession, base: String, out: String, factor: Int): Unit = {
    def read(t: String): DataFrame = spark.read.parquet(s"$base/$t.parquet")
    def write(df: DataFrame, t: String): Unit = {
      df.write.mode("overwrite").parquet(s"$out/$t.parquet")
      System.err.println(s"[stress] $t: ${spark.read.parquet(s"$out/$t.parquet").count()} rows")
    }
    def maxOf(df: DataFrame, c: String): Long =
      df.agg(max(col(c))).head().getLong(0) + 1

    // Fixed dimensions: copied verbatim.
    write(read("region"), "region")
    write(read("nation"), "nation")

    val customer = read("customer").cache()
    val supplier = read("supplier").cache()
    val part = read("part").cache()
    val orders = read("orders").cache()
    val lineitem = read("lineitem")
    val (mCust, mSupp, mPart, mOrd) = (maxOf(customer, "c_custkey"),
      maxOf(supplier, "s_suppkey"), maxOf(part, "p_partkey"),
      maxOf(orders, "o_orderkey"))

    def copies(baseDf: DataFrame)(perturb: (DataFrame, Int) => DataFrame): DataFrame =
      (0 until factor).map(k => perturb(baseDf, k)).reduce(_ unionAll _)

    write(copies(customer) { (df, k) =>
      df.withColumn("c_custkey", col("c_custkey") + lit(k * mCust))
    }, "customer")
    write(copies(supplier) { (df, k) =>
      df.withColumn("s_suppkey", col("s_suppkey") + lit(k * mSupp))
    }, "supplier")
    write(copies(part) { (df, k) =>
      df.withColumn("p_partkey", col("p_partkey") + lit(k * mPart))
    }, "part")
    write(copies(orders) { (df, k) =>
      df.withColumn("o_orderkey", col("o_orderkey") + lit(k * mOrd))
        .withColumn("o_custkey", col("o_custkey") + lit(k * mCust))
    }, "orders")
    write(copies(lineitem) { (df, k) =>
      df.withColumn("l_orderkey", col("l_orderkey") + lit(k * mOrd))
        .withColumn("l_partkey", col("l_partkey") + lit(k * mPart))
        .withColumn("l_suppkey", col("l_suppkey") + lit(k * mSupp))
    }, "lineitem")

    val events = read("events").cache()
    val mUser = maxOf(events, "user_id")
    val mEvent = maxOf(events, "event_id")
    write(copies(events) { (df, k) =>
      df.withColumn("event_id", col("event_id") + lit(k * mEvent))
        .withColumn("user_id", col("user_id") + lit(k * mUser))
        .withColumn("ts", col("ts") + expr(s"INTERVAL $k MICROSECOND"))
    }, "events")

    val documents = read("documents").cache()
    val mDoc = maxOf(documents, "doc_id")
    write(copies(documents) { (df, k) =>
      val txt =
        if (k == 0) col("text")
        else expr(s"concat_ws(' ', transform(split(text, ' '), t -> concat(t, '_$k')))")
      df.withColumn("doc_id", col("doc_id") + lit(k * mDoc))
        .withColumn("text", txt)
        .withColumn("n_chars", length(txt).cast("long"))
    }, "documents")

    val embeddings = read("embeddings").cache()
    val mVec = maxOf(embeddings, "vec_id")
    write(copies(embeddings) { (df, k) =>
      val emb =
        if (k == 0) col("embedding")
        else expr(s"transform(embedding, (x, i) -> " +
          s"CASE WHEN pmod(hash(i, $k), 2) = 0 THEN x ELSE -x END)")
      df.withColumn("vec_id", col("vec_id") + lit(k * mVec))
        .withColumn("embedding", emb)
    }, "embeddings")
  }
}
