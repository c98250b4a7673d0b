package graft

import org.apache.spark.sql.functions._

import graft.operators.Skew

/** Scale-tooling specs: salting, two-phase agg, bucketing, and
  * partitioning-invariance of results. */
class ScaleSpec extends SparkSpec {

  test("dedup/ANN plans never contain an all-pairs join") {
    // the 100 TB design claim in plan form: candidate generation is
    // bucketed everywhere — a Cartesian or BroadcastNestedLoop join in
    // any executed plan means an O(n²) stage crept back in. The pair
    // operators materialize eagerly inside (scoped persists), so the
    // check captures EVERY plan they execute via a listener instead of
    // inspecting the (already-checkpointed) returned frame.
    val dir = "/root/testdata/sf0.001"
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
    val captured = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          durationNs: Long): Unit =
        captured.add(qe.executedPlan.toString)
      override def onFailure(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          exception: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      graft.operators.Dedup.ngramJaccardPairs(
        docs, "doc_id", "text", k = 3, threshold = 0.8).count()
      graft.operators.Dedup.minHashLshPairs(
        docs, "doc_id", "text", k = 3, threshold = 0.8).count()
      graft.operators.Dedup.simHashPairs(docs, "doc_id", "text").count()
      graft.operators.Similarity.cosineNearDupPairs(
        emb, "vec_id", "embedding", threshold = 0.99, dim = 64).count()
      graft.operators.Similarity.lshTopK(
        emb, "vec_id", "embedding", dim = 64, k = 5).count()
      graft.operators.Dedup.contaminatedAgainst(
        docs, docs.filter(col("doc_id") % 50 === 0), "doc_id", "text",
        k = 4).count()
      graft.operators.Dedup.passageDedup(docs, "doc_id", "text",
        k = 8).count()
      graft.operators.LanguageModel.bigramNll(docs, "doc_id",
        "text").count()
      // listener callbacks are delivered asynchronously
      val deadline = System.currentTimeMillis() + 10000
      while (captured.size() < 8 && System.currentTimeMillis() < deadline)
        Thread.sleep(100)
      assert(captured.size() >= 8, "listener captured too few plans")
      captured.forEach { plan =>
        assert(!plan.contains("CartesianProduct"),
          s"executed plan contains CartesianProduct:\n${plan.take(2000)}")
        assert(!plan.contains("BroadcastNestedLoopJoin"),
          s"executed plan contains BroadcastNestedLoopJoin:\n${plan.take(2000)}")
      }
    } finally spark.listenerManager.unregister(listener)
  }

  test("salted join matches plain join on skewed keys") {
    import spark.implicits._
    // 90% of rows share one key — the classic hot key
    val large = (1 to 5000).map(i =>
      (if (i % 10 == 0) i.toLong else 1L, i.toDouble)).toDF("k", "v")
    val small = Seq((1L, "hot"), (20L, "a"), (30L, "b")).toDF("k", "name")
    val plain = large.join(small, Seq("k"), "inner")
      .groupBy("k").agg(count(lit(1)).as("n"), sum("v").as("s"))
      .orderBy("k").collect()
    val salted = Skew.saltedJoin(large, small, Seq("k"), saltFactor = 8)
      .groupBy("k").agg(count(lit(1)).as("n"), sum("v").as("s"))
      .orderBy("k").collect()
    assert(plain.map(_.toSeq).toSeq == salted.map(_.toSeq).toSeq)
  }

  test("two-phase aggregation matches direct aggregation") {
    import spark.implicits._
    val df = (1 to 10000).map(i => ((i % 3).toLong, i.toDouble)).toDF("k", "v")
    val direct = df.groupBy("k")
      .agg(sum("v").as("total"), count(lit(1)).as("n"))
      .orderBy("k").collect()
    val twoPhase = Skew.twoPhaseAgg(df, Seq("k"), 16, Map(
        "total" -> (("v", (c: org.apache.spark.sql.Column) => sum(c),
          (c: org.apache.spark.sql.Column) => sum(c))),
        "n" -> (("v", (c: org.apache.spark.sql.Column) => count(c),
          (c: org.apache.spark.sql.Column) => sum(c)))))
      .orderBy("k").collect()
    assert(direct.map(_.toSeq).toSeq == twoPhase.map(_.toSeq).toSeq)
  }

  test("bucketed tables join without an exchange") {
    import spark.implicits._
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val a = (1 to 1000).map(i => (i.toLong, i * 2.0)).toDF("id", "x")
      val b = (1 to 1000).map(i => (i.toLong, s"n$i")).toDF("id", "name")
      graft.sources.IO.writeBucketed(a, "bucketed_a", Seq("id"), 4)
      graft.sources.IO.writeBucketed(b, "bucketed_b", Seq("id"), 4)
      val joined = spark.table("bucketed_a").join(spark.table("bucketed_b"), "id")
      joined.collect()
      val plan = joined.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"), plan)
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10485760")
      spark.sql("DROP TABLE IF EXISTS bucketed_a")
      spark.sql("DROP TABLE IF EXISTS bucketed_b")
    }
  }

  test("native as-of join on bucketed tables plans ZERO exchanges") {
    import spark.implicits._
    // the headline scale claim of the native operator: with both sides
    // bucketed by the entity key, ClusteredDistribution is already
    // satisfied and the as-of join runs exchange-free — the union-tag
    // window form can never do this (union destroys partitioning)
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val epoch = java.sql.Date.valueOf("2020-01-01").toLocalDate
      val l = (1 to 2000).map(i => (i.toLong % 50,
        java.sql.Date.valueOf(epoch.plusDays(i % 300)))).distinct
        .toDF("entity", "d")
      val r = (1 to 500).map(i => (i.toLong % 50,
        java.sql.Date.valueOf(epoch.plusDays((i * 3) % 300)), i * 1.0))
        .distinct.toDF("entity", "d", "v")
        .groupBy("entity", "d").agg(org.apache.spark.sql.functions.max("v").as("v"))
      graft.sources.IO.writeBucketed(l, "asof_l", Seq("entity"), 4)
      graft.sources.IO.writeBucketed(r, "asof_r", Seq("entity"), 4)
      val out = graft.operators.AsOfJoin.mergeAsOfNative(
        spark.table("asof_l"), spark.table("asof_r"), "d", Seq("entity"))
      out.collect()
      val plan = out.queryExecution.executedPlan.toString
      assert(plan.contains("AsOfJoin"), plan)
      assert(!plan.contains("Exchange"), s"exchange survived:\n$plan")
      // and the result still matches the window implementation
      val window = graft.operators.AsOfJoin.mergeAsOf(
        spark.table("asof_l"), spark.table("asof_r"), "d", Seq("entity"))
      assert(out.orderBy("entity", "d").collect().map(_.toSeq).toSeq ==
        window.orderBy("entity", "d").collect().map(_.toSeq).toSeq)
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10485760")
      spark.sql("DROP TABLE IF EXISTS asof_l")
      spark.sql("DROP TABLE IF EXISTS asof_r")
    }
  }

  test("query results are invariant to shuffle partition count") {
    for (parts <- Seq("3", "17")) {
      spark.conf.set("spark.sql.shuffle.partitions", parts)
    }
    try {
      val dir = "/root/testdata/sf0.001"
      // the w* and flagship panels range-partition on the entity key, so
      // their partition bounds are sampled and differ with the count
      def run(parts: String): Seq[Seq[Any]] = {
        spark.conf.set("spark.sql.shuffle.partitions", parts)
        Seq("a1_agg_named", "w3_moving_avg", "j6_asof_backward", "w4_fill",
          "w5_interpolate", "w9_cumulative", "flagship_panel").flatMap(q =>
          SparkEntry.queries(q)(spark, dir).collect().map(_.toSeq).toSeq)
      }
      assert(run("3") == run("17"))
    } finally spark.conf.set("spark.sql.shuffle.partitions", "4")
  }
}
