package graft.ops

import graft.SparkSpec
import graft.functions.{TextHashes, VectorMath}
import graft.functions.TextFunctions._
import org.apache.spark.sql.functions._

class TextOpsSpec extends SparkSpec {
  import spark.implicits._

  private def docs = Seq(
    (1L, "the quick brown fox jumps over the lazy dog and runs away fast"),
    (2L, "quick brown fox jumps over the lazy dog and runs away fast"), // near-dup of 1
    (3L, "der hund und die katze und das pferd ist ein tier"),
    (4L, "completely different content about spark query engines here"),
    (5L, "the quick brown fox jumps over the lazy dog and runs away fast") // exact dup of 1
  ).toDF("doc_id", "text")

  test("exactDedup keeps min id per text") {
    val out = TextOps.exactDedup(docs, "doc_id", "text")
      .select("doc_id").as[Long].collect().toSet
    assert(out == Set(1L, 2L, 3L, 4L))
  }

  test("minhash near-dup finds the near pair, not the unrelated one") {
    val pairs = TextOps.nearDupPairs(docs, "doc_id", "text", threshold = 0.6)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairs.contains((1L, 2L)) || pairs.contains((1L, 5L)))
    assert(pairs.contains((1L, 5L)), "exact dup must be jaccard 1.0")
    assert(!pairs.exists(p => p._1 == 4L || p._2 == 4L), "doc 4 is unrelated")
  }

  test("minhash signature approximates true jaccard (property)") {
    val a = "the quick brown fox jumps over the lazy dog and runs away fast"
    val b = "quick brown fox jumps over the lazy dog and runs away fast"
    val sigA = TextHashes.minHashSig(a, 5, 256, 42L).toLongArray()
    val sigB = TextHashes.minHashSig(b, 5, 256, 42L).toLongArray()
    val est = sigA.zip(sigB).count { case (x, y) => x == y }.toDouble / 256
    // true char-5-gram jaccard
    val shA = (0 to a.length - 5).map(i => a.substring(i, i + 5)).toSet
    val shB = (0 to b.length - 5).map(i => b.substring(i, i + 5)).toSet
    val truth = shA.intersect(shB).size.toDouble / shA.union(shB).size
    assert(math.abs(est - truth) < 0.15, s"est=$est truth=$truth")
  }

  test("simhash: identical → distance 0; near-dup small; unrelated large") {
    val h1 = TextHashes.simHash64(docs.filter($"doc_id" === 1).head.getString(1), 42L)
    val h5 = TextHashes.simHash64(docs.filter($"doc_id" === 5).head.getString(1), 42L)
    val h2 = TextHashes.simHash64(docs.filter($"doc_id" === 2).head.getString(1), 42L)
    val h4 = TextHashes.simHash64(docs.filter($"doc_id" === 4).head.getString(1), 42L)
    assert(TextHashes.hamming64(h1, h5) == 0)
    assert(TextHashes.hamming64(h1, h2) < TextHashes.hamming64(h1, h4))
  }

  test("simhashNearDups pipeline finds exact dup pair") {
    val pairs = TextOps.simhashNearDups(docs, "doc_id", "text", maxDist = 3)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairs.contains((1L, 5L)))
  }

  test("simhashNearDups recall is EXACT at any maxDist (pigeonhole property)") {
    // 120 pseudo-random texts; brute-force hamming pairs are the truth
    val rnd = new scala.util.Random(11)
    val words = Seq("alpha", "beta", "gamma", "delta", "eps", "zeta", "eta", "theta")
    val rows = (0L until 120L).map { i =>
      (i, Seq.fill(6 + rnd.nextInt(6))(words(rnd.nextInt(words.size))).mkString(" "))
    }
    val df = rows.toDF("doc_id", "text")
    for (maxDist <- Seq(2, 4, 7)) {
      val truth = (for {
        (ia, ta) <- rows; (ib, tb) <- rows if ia < ib
        d = TextHashes.hamming64(TextHashes.simHash64(ta, 42L), TextHashes.simHash64(tb, 42L))
        if d <= maxDist
      } yield (ia, ib)).toSet
      val got = TextOps.simhashNearDups(df, "doc_id", "text", maxDist = maxDist)
        .select("id_a", "id_b").as[(Long, Long)].collect().toSet
      assert(got == truth, s"maxDist=$maxDist: got ${got.size}, truth ${truth.size}")
    }
  }

  test("LSH mega-bucket guard: planted giant duplicate cluster stays bounded") {
    // 5000 identical docs would otherwise create ~12.5M candidate pairs
    val giant = spark.range(1000, 6000)
      .select($"id".as("doc_id"), lit("identical giant cluster payload text").as("text"))
    val planted = docs.unionByName(giant)
    val t0 = System.nanoTime()
    val pairs = TextOps.nearDupPairs(planted, "doc_id", "text",
        threshold = 0.6, maxBucketSize = 100)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    val sec = (System.nanoTime() - t0) / 1e9
    assert(pairs.contains((1L, 5L)), "small-bucket pairs still found")
    assert(!pairs.exists(p => p._1 >= 1000L && p._2 >= 1000L),
      "giant cluster skipped (exactDedup territory)")
    assert(sec < 60, s"mega-bucket guard must bound runtime, took $sec s")
  }

  test("curation pipeline: funnel filters compose; near-dups keep min id") {
    val extra = Seq(
      (10L, "x"), // fails quality (too short)
      (11L, "der hund und die katze und das pferd ist ein tier wirklich"), // non-en
      (12L, "a red panda sleeps in the tall tree and dreams of warm snow")) // clean keeper
    val input = docs.unionByName(extra.toDF("doc_id", "text"))
    // cost contract: the funnel (report included) runs in ≤2 top-level
    // ACTIONS (AQE fans each action into one job per materialized stage,
    // so raw job count is not the right metric)
    val actions = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution, durationNs: Long): Unit =
        actions.incrementAndGet()
      override def onFailure(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    val curated =
      try {
        val r = CurationPipeline.curate(input, "doc_id", "text",
          CurationPipeline.Config(langs = Set("en"), jaccardThreshold = 0.6))
        org.apache.spark.sql.GraftShim.waitListenerBusEmpty(spark)
        r
      } finally spark.listenerManager.unregister(listener)
    val (kept, report) = (curated.kept, curated.report)
    assert(actions.get() <= 2, s"curate must run ≤2 actions, ran ${actions.get()}")
    // caller-side cost contract: an action on `kept` reads two caches —
    // the LSH band explode (Generate) must NOT be in its executed plan
    val ids = kept.select("doc_id").as[Long].collect().toSet
    val live = org.apache.spark.sql.GraftShim.livePhysicalNodeNames(kept)
    assert(live.exists(_.contains("InMemoryTableScan")),
      s"kept must read the funnel caches, live nodes: $live")
    assert(!live.exists(_.contains("Generate")),
      s"LSH band explode must not re-run on caller actions, live nodes: $live")
    curated.release()
    assert(report.input == 8 && report.kept == ids.size)
    assert(!ids.contains(10L), "quality gate (length)")
    assert(!ids.contains(4L), "quality gate (no stopword hits)")
    assert(!ids.contains(3L) && !ids.contains(11L), "language gate")
    assert(!ids.contains(5L), "exact dup of 1 dropped")
    assert(ids.contains(1L) && !ids.contains(2L), "near-dup cluster keeps min id")
    assert(ids.contains(12L), "unrelated clean doc kept")
  }

  test("connected-components survivor selection collapses chains the minimal-element approximation keeps") {
    // a similarity CHAIN a–hub–b where the HUB carries the largest id:
    // prefix(1)~full(3) and suffix(2)~full(3) are near-dups, but
    // prefix~suffix is not. Minimal-element selection only drops ids that
    // appear as the GREATER pair side — {3} — keeping BOTH endpoints;
    // true connected components keep only the component minimum {1}.
    val base = "the quick brown fox jumps over the lazy dog and then runs far away home tonight"
    val L = base.length * 4 / 5
    val chain = Seq(
      (1L, base.substring(0, L)),                  // prefix endpoint
      (2L, base.substring(base.length - L)),       // suffix endpoint
      (3L, base)).toDF("doc_id", "text")           // hub, LARGEST id
    val cfg = CurationPipeline.Config(langs = Set("en"), jaccardThreshold = 0.7,
      maxBucketSize = 0)
    val approx = CurationPipeline.curate(chain, "doc_id", "text", cfg)
    val approxIds = approx.kept.select("doc_id").as[Long].collect().toSet
    approx.release()
    assert(approxIds == Set(1L, 2L),
      s"fixture must demonstrate the approximation (kept $approxIds)")
    val cc = CurationPipeline.curate(chain, "doc_id", "text",
      cfg.copy(connectedComponents = true))
    val ccIds = cc.kept.select("doc_id").as[Long].collect().toSet
    cc.release()
    assert(ccIds == Set(1L), s"one survivor per component (kept $ccIds)")
  }

  test("rolling fingerprint: equal for dups, stable under prefix-append") {
    val fp1 = TextHashes.rollingFingerprint("abcdefghijklmnopqrstuvwxyz 0123", 8)
    val fp2 = TextHashes.rollingFingerprint("PREFIX abcdefghijklmnopqrstuvwxyz 0123", 8)
    // min-window fingerprint usually survives a prefix append (winnowing property)
    // — deterministic given fixed inputs; pin the behavior:
    assert(fp1 == TextHashes.rollingFingerprint("abcdefghijklmnopqrstuvwxyz 0123", 8))
    assert(TextHashes.rollingFingerprint("", 8) == 0L)
    // empty strings hash as the single empty shingle instead of throwing
    // (reachable via perturbed-copy substring on short docs)
    assert(TextHashes.minHashBands("", 5, 4, 2, 42L).numElements() == 4)
    assert(TextHashes.minHashSig("", 5, 8, 42L).numElements() == 8)
    assert(TextHashes.shingleHashes("", 5, 42L).numElements() == 1)
    val colVals = docs.select(rolling_fingerprint($"text", 16).as("fp"))
      .as[Long].collect()
    assert(colVals(0) == colVals(4), "exact dup docs share fingerprint")
  }

  test("tokenCount/langId columns match scala reference") {
    val got = docs.select($"doc_id", TextOps.tokenCount($"text").as("n"),
      TextOps.langId($"text").as("lang")).as[(Long, Int, String)].collect()
      .map { case (id, n, lang) => id -> ((n, lang)) }.toMap
    val exp = docs.as[(Long, String)].collect().map { case (id, t) =>
      val toks = t.split("\\s+").filter(_.nonEmpty)
      val counts = TextOps.langStopwords.map { case (l, sw) => l -> toks.count(sw.contains) }
      val best = counts.foldLeft(("und", 0)) { case ((bl, bc), (l, c)) =>
        if (c > bc) (l, c) else (bl, bc) }
      id -> ((toks.length, if (best._2 > 0) best._1 else "und"))
    }.toMap
    got.foreach { case (id, (n, lang)) =>
      assert((n, lang) == exp(id), s"doc $id") }
    assert(got(3L)._2 == "de")
    assert(got(1L)._2 == "en")
  }

  test("bpeish_token_count sizes tokens in code points, like Spark length()") {
    // 5 code points (10 UTF-16 units): ceil(5/4) = 2, not ceil(10/4) = 3
    assert(graft.functions.TextStats.bpeishTokenCount("😀😀😀😀😀") == 2)
    val texts = Seq("😀😀😀😀😀", "abcd 😀 abcde\tx𝔸𝔹𝔺𝔻", "", "  plain ascii words  ")
      .toDF("text")
    val got = texts.select(TextOps.bpeishTokenCount($"text")).as[Int].collect().toSeq
    val exp = texts.selectExpr("aggregate(filter(split(text, '\\\\s+'), t -> t != ''), 0, " +
      "(acc, t) -> acc + CAST(ceil(length(t) / 4.0) AS INT))").as[Int].collect().toSeq
    assert(got == exp && got.head == 2, s"got $got, Spark length() reference $exp")
  }

  test("lang_id: NULL text gives NULL, empty text gives und") {
    val got = Seq(Some("der hund und die katze"), None, Some("")).toDF("text")
      .select(TextOps.langId($"text")).as[Option[String]].collect().toSeq
    assert(got == Seq(Some("de"), None, Some("und")))
  }

  test("CC propagation runs ONE action per round (change count folded into the round job)") {
    // chain 1–3, 2–3: labels converge in 3 rounds (two propagation rounds
    // + the no-change detection round). Per-round cost contract: exactly
    // one action — the aggregate that both materializes the round's label
    // cache and returns the change count (the former shape ran a second
    // join+count action against the previous labels every round).
    val pairs = Seq((1L, 3L), (2L, 3L)).toDF("id_a", "id_b")
    val actions = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution, durationNs: Long): Unit =
        actions.incrementAndGet()
      override def onFailure(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    val losers =
      try {
        val l = CurationPipeline.connectedLosers(pairs)
        org.apache.spark.sql.GraftShim.waitListenerBusEmpty(spark)
        l
      } finally spark.listenerManager.unregister(listener)
    assert(losers.select("doc_id").as[Long].collect().toSet == Set(2L, 3L),
      "component minimum 1 survives; 2 and 3 lose")
    losers.unpersist(false)
    // budget: ≤ 1 (checkpoint) + 3 (rounds) + 1 (losers materialize) + 1 slack
    assert(actions.get() <= 6,
      s"one action per propagation round expected, observed ${actions.get()}")
  }

  test("CC truncation keeps its lineage: released blocks are recomputed, not lost") {
    import org.apache.spark.sql.GraftShim
    val pairs = Seq((1L, 3L), (2L, 3L), (5L, 6L)).toDF("id_a", "id_b")
    val p = GraftShim.persistTruncated(pairs, org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val rows = p.as[(Long, Long)].collect().toSet
    GraftShim.unpersistTruncated(p)
    assert(p.as[(Long, Long)].collect().toSet == rows && rows.size == 3)
    // connectedLosers releases its truncation before it returns: dropping the
    // persisted losers makes the next action recompute through it
    val losers = CurationPipeline.connectedLosers(pairs)
    assert(losers.select("doc_id").as[Long].collect().toSet == Set(2L, 3L, 6L))
    losers.unpersist(true)
    assert(losers.select("doc_id").as[Long].collect().toSet == Set(2L, 3L, 6L))
  }

  test("CC survivor selection over an EMPTY pair set: no losers, no crash") {
    // a corpus with no near-duplicates is a legitimate input — the round's
    // folded convergence aggregate must coalesce its sum over zero rows
    val empty = Seq.empty[(Long, Long)].toDF("id_a", "id_b")
    val losers = CurationPipeline.connectedLosers(empty)
    assert(losers.count() == 0)
    losers.unpersist(false)
  }
}

class VectorOpsSpec extends SparkSpec {
  import spark.implicits._

  private def vecs = {
    val rnd = new scala.util.Random(7)
    (0L until 200L).map { i =>
      val v = Array.fill(16)(rnd.nextGaussian().toFloat)
      (i, v)
    }.toDF("vec_id", "embedding")
  }

  test("cosineTopK matches brute-force scala oracle") {
    val data = vecs.as[(Long, Array[Float])].collect()
    val q = data.head._2.map(_.toDouble)
    def cos(v: Array[Float]): Double = {
      val dot = v.zip(q).map { case (a, b) => a * b }.sum
      val na = math.sqrt(v.map(x => x.toDouble * x).sum)
      val nb = math.sqrt(q.map(x => x * x).sum)
      dot / (na * nb)
    }
    val expect = data.map { case (id, v) => (id, cos(v)) }
      .sortBy { case (id, c) => (-c, id) }.take(10).map(_._1).toSeq
    val got = VectorOps.cosineTopK(vecs, "vec_id", "embedding", q, 10)
      .orderBy("rank").select("vec_id").as[Long].collect().toSeq
    assert(got == expect)
  }

  test("LSH ANN: query's own vector is rank 1; results ⊆ exact ordering") {
    val data = vecs.as[(Long, Array[Float])].collect()
    val q = data.head._2.map(_.toDouble)
    val got = VectorOps.cosineTopKLsh(vecs, "vec_id", "embedding", q, 5, bits = 8)
      .orderBy("rank").select("vec_id").as[Long].collect().toSeq
    assert(got.nonEmpty)
    assert(got.head == 0L, "query vector itself must be top result")
  }

  test("IVF ANN: recall ≥ 0.9 vs exact top-k on clusterable data") {
    // 8 tight clusters; ids round-robin the clusters, so the first-16
    // sample quantizer covers every cluster — the regime IVF exists for
    val rnd = new scala.util.Random(11)
    val centers = Array.fill(8)(Array.fill(16)(rnd.nextGaussian() * 5))
    val data = (0L until 400L).map { i =>
      val c = centers((i % 8).toInt)
      (i, c.map(x => (x + rnd.nextGaussian() * 0.3).toFloat))
    }
    val df = data.toDF("vec_id", "embedding")
    val q = data.head._2.map(_.toDouble)
    val exact = VectorOps.cosineTopK(df, "vec_id", "embedding", q, 20)
      .select("vec_id").as[Long].collect().toSet
    val ivf = VectorOps.cosineTopKIvf(df, "vec_id", "embedding", q, 20,
        nlist = 16, nprobe = 4)
      .select("vec_id").as[Long].collect().toSet
    val recall = (exact & ivf).size.toDouble / exact.size
    assert(recall >= 0.9, s"IVF recall $recall < 0.9 on clustered fixture")
  }

  test("IVF ANN with Lloyd refinement: recall ≥ 0.9 on WEAKLY-clustered data") {
    // looser clusters (noise σ=1.5 against center scale 5): raw data-sample
    // seeds sit off-center here, the regime the one-pass Lloyd refinement
    // exists for
    val rnd = new scala.util.Random(13)
    val centers = Array.fill(8)(Array.fill(16)(rnd.nextGaussian() * 5))
    val data = (0L until 400L).map { i =>
      val c = centers((i % 8).toInt)
      (i, c.map(x => (x + rnd.nextGaussian() * 1.5).toFloat))
    }
    val df = data.toDF("vec_id", "embedding")
    val q = data.head._2.map(_.toDouble)
    val exact = VectorOps.cosineTopK(df, "vec_id", "embedding", q, 20)
      .select("vec_id").as[Long].collect().toSet
    val ivf = VectorOps.cosineTopKIvf(df, "vec_id", "embedding", q, 20,
        nlist = 16, nprobe = 4, refineSampleN = 256)
      .select("vec_id").as[Long].collect().toSet
    val recall = (exact & ivf).size.toDouble / exact.size
    assert(recall >= 0.9, s"refined IVF recall $recall < 0.9 on weakly-clustered fixture")
  }

  test("IVF ANN with MULTI-iteration Lloyd: recall ≥ 0.9 on elongated/overlapping clusters") {
    // adversarial geometry (round-4 verdict item 7): clusters stretched 8x
    // along a shared axis AND overlapping (centers only 2σ apart along the
    // minor axes) — one Lloyd pass leaves centroids parked mid-ellipsoid,
    // multi-iteration migrates them into the mass
    val rnd = new scala.util.Random(17)
    val axis = Array.fill(16)(rnd.nextGaussian()).map(_ / 4)
    val centers = Array.fill(8)(Array.fill(16)(rnd.nextGaussian() * 2.5))
    val data = (0L until 400L).map { i =>
      val c = centers((i % 8).toInt)
      val stretch = rnd.nextGaussian() * 8 // elongation along the shared axis
      (i, c.indices.map(j =>
        (c(j) + axis(j) * stretch + rnd.nextGaussian() * 1.2).toFloat).toArray)
    }
    val df = data.toDF("vec_id", "embedding")
    val q = data.head._2.map(_.toDouble)
    val exact = VectorOps.cosineTopK(df, "vec_id", "embedding", q, 20)
      .select("vec_id").as[Long].collect().toSet
    val ivf = VectorOps.cosineTopKIvf(df, "vec_id", "embedding", q, 20,
        nlist = 16, nprobe = 4, refineSampleN = 256, refineIters = 4)
      .select("vec_id").as[Long].collect().toSet
    val recall = (exact & ivf).size.toDouble / exact.size
    assert(recall >= 0.9, s"multi-iter IVF recall $recall < 0.9 on elongated fixture")
    // and the refinement is genuinely iterative: iterations move centroids
    val c1 = VectorOps.ivfCentroidsRefined(df, "vec_id", "embedding", 16, 256, iters = 1)
    val c4 = VectorOps.ivfCentroidsRefined(df, "vec_id", "embedding", 16, 256, iters = 4)
    assert(c1.zip(c4).exists { case (a, b) => !a.sameElements(b) },
      "additional Lloyd iterations must move at least one centroid")
  }

  test("embeddingNearDups finds planted duplicate vector") {
    val planted = vecs.unionByName(
      vecs.filter($"vec_id" === 3).select(lit(9999L).as("vec_id"), $"embedding"))
    val pairs = VectorOps.embeddingNearDups(planted, "vec_id", "embedding",
      threshold = 0.999)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairs.contains((3L, 9999L)))
  }

  test("embeddingNearDups: threshold-edge recall — every planted near-dup pair found") {
    // Plant copies at CONTROLLED cosine ≈ 0.955 — just above the 0.95
    // threshold, the regime where round 2's single 8-bit band missed ~57%
    // of true pairs: v' = c·v + s·|v|·û with û ⊥ v, so cos(v, v') = c
    // exactly (up to float rounding).
    val data = vecs.as[(Long, Array[Float])].collect()
    val rnd = new scala.util.Random(7)
    val c = 0.955
    val sTheta = math.sqrt(1 - c * c)
    val planted = data.map { case (id, v) =>
      val w = Array.fill(v.length)(rnd.nextGaussian())
      val nv2 = v.map(x => x.toDouble * x).sum
      val dotWV = w.zip(v).map { case (a, b) => a * b.toDouble }.sum
      val u0 = w.zip(v).map { case (wi, vi) => wi - dotWV / nv2 * vi }
      val nu = math.sqrt(u0.map(x => x * x).sum)
      val vp = v.zip(u0).map { case (vi, ui) =>
        (c * vi + sTheta * math.sqrt(nv2) * (ui / nu)).toFloat }
      (id + 10000L, vp)
    }
    val all = vecs.unionByName(planted.toSeq.toDF("vec_id", "embedding"))
    val got = VectorOps.embeddingNearDups(all, "vec_id", "embedding", threshold = 0.95)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    // exact truth per planted pair, sequential double accumulation on the
    // float-rounded arrays (same arithmetic as the engine's cosine_pair)
    val byId = data.toMap
    def cosSeq(a: Array[Float], b: Array[Float]): Double = {
      var dot = 0.0; var na = 0.0; var nb = 0.0
      var i = 0
      while (i < a.length) {
        dot += a(i).toDouble * b(i); na += a(i).toDouble * a(i); nb += b(i).toDouble * b(i)
        i += 1
      }
      dot / (math.sqrt(na) * math.sqrt(nb))
    }
    val expected = planted.collect { case (pid, vp)
        if cosSeq(byId(pid - 10000L), vp) >= 0.95 => (pid - 10000L, pid) }.toSet
    assert(expected.size > 150, s"fixture degenerate: only ${expected.size} true pairs")
    val missed = expected -- got
    assert(missed.isEmpty, s"detector missed ${missed.size} threshold-edge pairs: ${missed.take(5)}")
  }
}

class MultimodalSpec extends SparkSpec {
  import spark.implicits._

  test("synthetic media + feature extraction plumbing (batch shape, nulls)") {
    val ids = spark.range(100).toDF("id")
    val media = Multimodal.syntheticMedia(ids, "id")
    assert(media.schema.fieldNames.toSeq ==
      Seq("media_id", "kind", "bytes", "width", "height", "sample_rate", "duration_ms"))
    val feats = Multimodal.extractFeatures(media, parallelism = 4)
    assert(feats.count() == 100)
    val row = feats.filter($"feature".isNotNull).head()
    assert(row.getSeq[Float](2).size == Multimodal.featureDim)
    // determinism across parallelism
    val a = Multimodal.extractFeatures(media, 1).orderBy("media_id").collect().map(_.toString)
    val b = Multimodal.extractFeatures(media, 7).orderBy("media_id").collect().map(_.toString)
    assert(a.toSeq == b.toSeq)
    // null bytes pass through as null feature
    val withNull = media.withColumn("bytes",
      when($"media_id" === 0, lit(null).cast("binary")).otherwise($"bytes"))
    val f0 = Multimodal.extractFeatures(withNull, 2).filter($"media_id" === 0).head()
    assert(f0.isNullAt(2))
  }

  test("resize + frame sampling stubs keep schema and explode correctly") {
    val media = Multimodal.syntheticMedia(spark.range(50).toDF("id"), "id")
    val resized = Multimodal.resize(media, 256)
    val img = resized.filter($"kind" === "image")
    assert(img.filter($"width" > 256 || $"height" > 256).count() == 0)
    val frames = Multimodal.sampleFrames(media, 60000)
    val vids = media.filter($"kind" === "video").count()
    assert(frames.count() >= vids, "at least one frame per video")
    assert(frames.schema.fieldNames.toSeq == Seq("media_id", "frame_ts", "bytes"))
  }
}
