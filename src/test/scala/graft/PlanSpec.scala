package graft

import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.functions._

/**
 * Plan-quality assertions — the 100 TB posture checks (SURVEY.md §4,
 * build brief "Optimize for scale"): filters and projections must reach
 * the parquet scan, small dims must broadcast, custom expressions must not
 * break whole-stage codegen, top-k must not global-sort.
 */
class PlanSpec extends SparkSpec {
  private val sf = "/root/testdata/sf0.001"

  private def executed(df: org.apache.spark.sql.DataFrame): String = {
    df.collect() // force AQE final plan
    df.queryExecution.executedPlan.toString
  }

  test("q_scan_project: filter + projection pushed to parquet scan") {
    val df = Queries.queries("q_scan_project")(spark, sf)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters: [IsNotNull(l_quantity), GreaterThan(l_quantity,30.0)]"),
      s"filter not pushed:\n$plan")
    assert(plan.contains("ReadSchema: struct<l_orderkey:bigint,l_linenumber:int,l_quantity:double,l_returnflag:string"),
      s"projection not pruned:\n$plan")
  }

  test("q_hash_join broadcasts the dim side (no shuffle of the fact side)") {
    val plan = executed(Queries.queries("q_hash_join")(spark, sf))
    assert(plan.contains("BroadcastHashJoin"), s"expected broadcast join:\n$plan")
    assert(!plan.contains("SortMergeJoin"), s"unexpected SMJ:\n$plan")
  }

  test("custom rdf expressions stay inside WholeStageCodegen") {
    val df = Queries.queries("q_create_template")(spark, sf)
    // the project containing safe_iri must live under a WholeStageCodegen
    // span (rendered as `*(n)` in plan strings), not a fallback Project
    val codegenSpans = df.queryExecution.executedPlan.collect {
      case w: org.apache.spark.sql.execution.WholeStageCodegenExec => w.toString
    }
    assert(codegenSpans.exists(_.contains("safe_iri")),
      s"safe_iri not inside codegen span:\n${df.queryExecution.executedPlan}")
  }

  test("text hash expressions are codegen'd too") {
    val df = spark.read.parquet(s"$sf/documents.parquet")
      .select(graft.functions.TextFunctions.simhash64(col("text")).as("h"))
    val spans = df.queryExecution.executedPlan.collect {
      case w: org.apache.spark.sql.execution.WholeStageCodegenExec => w.toString
    }
    assert(spans.exists(_.contains("simhash64")), df.queryExecution.executedPlan.toString)
  }

  test("q_topk uses TakeOrderedAndProject (no global sort)") {
    val plan = Queries.queries("q_topk")(spark, sf).queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"), plan)
  }

  test("constant-only rule folds: no scan at all in optimized plan") {
    val df = Queries.queries("q_constant_fold")(spark, sf)
    val opt = df.queryExecution.optimizedPlan.toString
    assert(!opt.toLowerCase.contains("parquet"), opt)
    assert(!opt.contains("concat"), s"constants not folded:\n$opt")
  }

  test("LWW dedup: one exchange + one sort + codegen'd keep-first, no SortAggregate") {
    val ev = spark.read.parquet(s"$sf/events.parquet")
      .select(col("user_id"), col("event_id").as("_lsn"), col("event_type"))
    val out = graft.cdc.CdcApply.lwwDedup(ev, Seq("user_id"), saltBuckets = 1)
    val plan = out.queryExecution.executedPlan.toString
    // round-6 shape: the former groupBy(max_by(struct)) planned as
    // SortAggregate (string buffers are not hash-aggregable) — a map-side
    // sort, the exchange, AND a reduce-side sort. Now: repartition by key,
    // ONE sort, and the native keep-first-of-run filter — everything after
    // the exchange streams through whole-stage codegen with no aggregation
    // buffers and no object-codec boundary.
    assert(plan.contains("Exchange hashpartitioning(user_id"), plan)
    assert(plan.contains("keep_first_of_run"), plan)
    assert(!plan.contains("SortAggregate"), plan)
    assert(!plan.contains("mapPartitions"), plan)
    assert(plan.split("\\bSort \\[").length - 1 == 1,
      s"exactly one sort expected:\n$plan")
  }

  test("keep_first_of_run: non-atomic keys fail analysis; (string, int) keys stay codegen'd") {
    import spark.implicits._
    import graft.functions.KeepFirst.keep_first_of_run
    val df = Seq(("a", 1, 1L), ("a", 1, 2L), ("b", 1, 3L)).toDF("k", "i", "_lsn")
    val e = intercept[org.apache.spark.sql.AnalysisException] {
      df.filter(keep_first_of_run(struct(col("k"), col("i"))))
    }
    assert(e.getMessage.contains("struct<k:string,i:int>"), e.getMessage)
    val out = df.repartition(col("k"), col("i"))
      .sortWithinPartitions(col("k"), col("i"), col("_lsn").desc)
      .filter(keep_first_of_run(col("k"), col("i")))
    assert(out.select("_lsn").as[Long].collect().toSet == Set(2L, 3L))
    val plan = executed(out)
    assert("""\*\(\d+\) Filter keep_first_of_run""".r.findFirstIn(plan).isDefined,
      s"keep_first_of_run not inside a codegen span:\n$plan")
  }

  test("salted top-k-per-group: ≡ naive window, stage-1 parallelism > #groups") {
    val orders = spark.read.parquet(s"$sf/orders.parquet")
      .select("o_orderpriority", "o_orderkey", "o_totalprice")
    val naive = orders.select(col("o_orderpriority"), col("o_orderkey"), col("o_totalprice"),
        org.apache.spark.sql.functions.row_number().over(
          org.apache.spark.sql.expressions.Window
            .partitionBy(col("o_orderpriority"))
            .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)).as("rn"))
      .filter(col("rn") <= 3)
    val salted = graft.ops.TopK.topKPerGroup(orders, Seq("o_orderpriority"),
      Seq(col("o_totalprice").desc, col("o_orderkey").asc), 3,
      saltExpr = xxhash64(col("o_orderkey")))
    assert(salted.collect().map(_.toString).sorted.toSeq ==
      naive.collect().map(_.toString).sorted.toSeq)
    // the first (big-data) window must partition by (group, _salt), not the
    // 5-value group alone — that's the whole point
    val plan = salted.queryExecution.executedPlan.toString
    assert(plan.contains("_salt"), s"stage-1 salt missing from plan:\n$plan")
  }

  test("asofJoin plan: exactly ONE exchange (no join explosion, no BNLJ)") {
    import spark.implicits._
    val l = (0 until 100).map(i => (i.toLong % 7, i.toLong, s"p$i")).toDF("k", "t", "pay")
    val r = (0 until 50).map(i => (i.toLong % 7, i.toLong * 2, i * 1.0)).toDF("k", "rt", "v")
    val out = graft.ops.Joins.asofJoin(l, r, Seq("k"), "t", "rt", Seq("v"))
    out.collect()
    val plan = out.queryExecution.executedPlan.toString
    // every row crosses ONE keyed exchange; AQE materializes it as one
    // Exchange node per union branch (≤ 2 total), never a join
    val exchanges = "Exchange hashpartitioning".r.findAllIn(plan).length
    assert(exchanges <= 2, s"each union branch gets at most one exchange, got $exchanges:\n$plan")
    assert("hashpartitioning\\(k".r.findAllIn(plan).nonEmpty, s"exchange must be keyed:\n$plan")
    assert(!plan.contains("Join"), s"as-of must not plan a join operator:\n$plan")
  }

  test("embeddingNearDups plan: banded hash join, never a nested loop; bands codegen'd") {
    import spark.implicits._
    val rnd = new scala.util.Random(9)
    // parquet round trip: a LocalRelation would let Catalyst fold the
    // expressions away and hide the distributed plan under test
    val dir = tmpDir("plan-neardup")
    (0L until 200L).map(i => (i, Array.fill(16)(rnd.nextGaussian().toFloat)))
      .toDF("vec_id", "embedding").write.mode("overwrite").parquet(dir)
    val vecs = spark.read.parquet(dir)
    val out = graft.ops.VectorOps.embeddingNearDups(vecs, "vec_id", "embedding",
      threshold = 0.9)
    out.collect()
    val plan = out.queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastNestedLoopJoin") && !plan.contains("CartesianProduct"),
      s"candidate generation must be a banded equi-join:\n$plan")
    assert(plan.contains("sign_lsh_bands"), s"native band expression missing:\n$plan")
    assert(plan.contains("*("), s"no whole-stage-codegen spans (* markers) at all:\n$plan")
  }

  test("IVF probe plan: cell filter prunes before ranking, no shuffle for top-k") {
    import spark.implicits._
    val rnd = new scala.util.Random(10)
    val dir = tmpDir("plan-ivf")
    (0L until 200L).map(i => (i, Array.fill(16)(rnd.nextGaussian().toFloat)))
      .toDF("vec_id", "embedding").write.mode("overwrite").parquet(dir)
    val vecs = spark.read.parquet(dir)
    val q = vecs.orderBy("vec_id").head().getSeq[Float](1).map(_.toDouble).toArray
    val out = graft.ops.VectorOps.cosineTopKIvf(vecs, "vec_id", "embedding", q, 5,
      nlist = 8, nprobe = 2)
    out.collect()
    val plan = out.queryExecution.executedPlan.toString
    assert(plan.contains("nearest_centroid"), s"assignment expr missing:\n$plan")
    assert(plan.contains("TakeOrderedAndProject"),
      s"top-k must be TakeOrderedAndProject (per-partition heaps), not a global sort:\n$plan")
  }

  test("rdf engine per-scan dedup happens before the join (plan shape)") {
    import spark.implicits._
    val child = Seq(("a", "k1"), ("b", "k2")).toDF("v", "k")
    val parent = Seq(("k1", "x")).toDF("k", "w")
    val rule = graft.rules.MappingRule("m", "c", graft.rules.TripleRule(
      graft.rules.TermRule(graft.rules.TermMap.Template("s/{c_v}"), graft.rules.TermKind.Iri),
      graft.rules.TermRule(graft.rules.TermMap.Constant("http://p"), graft.rules.TermKind.Iri),
      graft.rules.TermRule(graft.rules.TermMap.Reference("p_w"), graft.rules.TermKind.Lit())),
      join = Some(graft.rules.JoinSpec("p", "k", "k")))
    val out = graft.rules.RdfEngine.executeOne(rule, Map("c" -> child, "p" -> parent))
    assert(out.collect().length == 1)
    val plan = out.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), plan)
  }
}
