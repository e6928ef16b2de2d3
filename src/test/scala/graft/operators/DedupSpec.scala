package graft.operators

import graft.SparkTestBase
import org.apache.spark.sql.functions._

/** Dedup clustering: the star-loop connected components must handle shapes
  * deeper than the shallow clusters the sf oracles produce — chains
  * (diameter > 2), bridged stars, and disjoint components — and agree with
  * a driver-side union-find on every random and adversarial graph. */
class DedupSpec extends SparkTestBase {

  private def components(pairs: Seq[(Long, Long)]): Map[Long, Long] = {
    import spark.implicits._
    Dedup.connectedComponents(pairs.toDF("src", "dst"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
  }

  test("a chain propagates the min label across its full diameter") {
    // 10-20-30-40-50-60: diameter 5, needs multiple propagation rounds
    val got = components(Seq((10L, 20L), (20L, 30L), (30L, 40L),
      (40L, 50L), (50L, 60L)))
    assert(got == Map(10L -> 10L, 20L -> 10L, 30L -> 10L, 40L -> 10L,
      50L -> 10L, 60L -> 10L))
  }

  test("disjoint clusters keep distinct representatives") {
    val got = components(Seq((1L, 2L), (2L, 3L), (7L, 9L), (9L, 8L)))
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L,
      7L -> 7L, 8L -> 7L, 9L -> 7L))
  }

  test("a bridge node merges two stars into one component") {
    // star A {1,2,3} centered on 1; star B {8,9,10} centered on 8;
    // bridge 3-8 joins them: everything labels to 1
    val got = components(Seq((1L, 2L), (1L, 3L), (8L, 9L), (8L, 10L),
      (3L, 8L)))
    assert(got.values.toSet == Set(1L))
    assert(got.keySet == Set(1L, 2L, 3L, 8L, 9L, 10L))
  }

  test("a 600-node chain converges in logarithmic star rounds") {
    import spark.implicits._
    // worst-case shape for label propagation: one chain of diameter 599.
    // Min-label would need ~600 rounds; the star algorithm's round count
    // must stay logarithmic — this is the observable that justifies it.
    val pairs = (0L until 599L).map(i => (i * 2, i * 2 + 2))
    val (labels, iters) = Dedup.connectedComponentsWithStats(
      pairs.toDF("src", "dst"), maxIters = 32)
    assert(iters <= 15, s"expected O(log) star rounds on a chain, got $iters")
    val got = labels.collect().map(r => r.getLong(0) -> r.getLong(1))
    assert(got.length == 600 && got.forall(_._2 == 0L),
      "every chain node must label to the minimum")
  }

  test("an exhausted star loop throws instead of emitting unreliable labels") {
    import spark.implicits._
    // ADVICE r8: exiting on maxIters without the checksum fixpoint used to
    // fall through to the roots extraction, which assumes star-shaped
    // edges — duplicate/wrong labels, indistinguishable from clean
    // convergence. maxIters = 0 on any non-empty graph forces that exit,
    // which must now fail LOUDLY.
    val pairs = Seq((1L, 2L), (2L, 3L)).toDF("src", "dst")
    intercept[IllegalStateException] {
      Dedup.connectedComponentsWithStats(pairs, maxIters = 0)._1.collect()
    }
  }

  private val dir = "/root/testdata/sf0.001"

  test("every connected-components consumer broadcasts the labels in its initial plan") {
    import org.apache.spark.sql.execution.{RDDScanExec, SparkPlan}
    import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
    // the labels are a checkpoint with no size estimate: without the hint
    // the physical plan is a sort-merge join that AQE may or may not rewrite
    def labels(p: SparkPlan): Boolean = p match {
      case r: RDDScanExec => r.output.map(_.name) == Seq("id", "label")
      case u if u.children.size == 1 => labels(u.children.head)
      case _ => false
    }
    for (q <- Seq("d09_dedup_components", "p03_corpus_curation",
                  "d13_semantic_dedup", "d16_semantic_dedup_capped",
                  "m03_image_phash_dedup", "m04_audio_afp_dedup",
                  "m05_video_phash_dedup")) {
      val plan = ResultMemo.bypass(graft.SparkEntry.queries(q)(spark, dir))
        .queryExecution.sparkPlan
      val joins = plan.collect {
        case j if j.children.size == 2 && j.children.exists(labels) => j }
      assert(joins.nonEmpty && joins.forall(_.isInstanceOf[BroadcastHashJoinExec]),
        s"$q:\n$plan")
    }
  }

  test("d11: the bloom prefilter changes cost, never the answer") {
    import graft.Tables
    // reference pipeline with NO bloom: plain exact join of corpus n-grams
    // against the eval-set n-grams — d11's result must be identical,
    // because its bloom only prunes rows ahead of the same join
    val n = 5
    val toks = split(col("text"), " ")
    val grams = array_distinct(transform(
      sequence(lit(1), size(toks) - (n - 1)),
      i => array_join(slice(toks, i, lit(n)), " ")))
    val docs = Tables.documents(spark, dir)
      .filter(size(split(col("text"), " ")) >= n)
      .select(col("doc_id"), col("source"), explode(grams).as("gram"))
    val eval = docs.filter(col("source") === "src0").select("gram").distinct()
    val want = docs.filter(col("source") =!= "src0")
      .join(eval, Seq("gram"))
      .groupBy("doc_id").agg(count(lit(1)).as("n_shared"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val got = Dedup.defs.find(_.name == "d11_ngram_decontaminate").get
      .build(spark, dir)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == want, "bloom-prefiltered result must equal the exact join")
  }

  test("d16: cells partition each label block and pairs never leave d05's") {
    // every vector gets exactly one cell in [0, ceil(block/64))
    val asg = Dedup.cellAssignments(spark, dir)
      .select("vec_id", "label", "cell").collect()
    val byLabel = asg.groupBy(_.getInt(1))
    assert(asg.map(_.getLong(0)).distinct.length == asg.length,
      "each vector must be assigned exactly once")
    byLabel.foreach { case (label, rows) =>
      val k = (rows.length + Dedup.SemCap - 1) / Dedup.SemCap
      assert(rows.forall(r => r.getInt(2) >= 0 && r.getInt(2) < k),
        s"label $label: cell ids must lie in [0, $k)")
    }
    // the capped form only LOSES pairs at cell boundaries, never invents:
    // its pair set must be a subset of d05's exact label-blocked pairs
    def pairSet(df: org.apache.spark.sql.DataFrame) =
      df.select("id_a", "id_b").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    val capped = pairSet(Dedup.cappedCosinePairs(spark, dir))
    val exact = pairSet(Dedup.defs.find(_.name == "d05_embedding_neardup")
      .get.build(spark, dir))
    assert(capped.subsetOf(exact),
      s"capped pairs must be a subset of d05's: extras=${capped -- exact}")
    assert(capped.nonEmpty, "sf0.001 dup structure must survive the capping")
  }

  test("d16: merge recall against d13 stays pinned") {
    // The SemDeDup trade is recall at cell boundaries: d16 only considers
    // pairs inside a (label, cell) sub-block, so it can MISS d13 merges
    // whose endpoints land in different cells, never invent new ones
    // (pairs ⊆ d05's ⟹ d16's components refine d13's ⟹ d16's keep=0
    // set ⊆ d13's keep=0 set). Pin the measured recall so a centroid-
    // selection regression that silently shreds dup cliques surfaces here,
    // the same way s03/s05/s08/s10 pin ANN recall.
    def dups(name: String) =
      Dedup.defs.find(_.name == name).get.build(spark, dir)
        .filter(col("keep") === 0).select("vec_id")
        .collect().map(_.getLong(0)).toSet
    val exactDups = dups("d13_semantic_dedup")
    val cappedDups = dups("d16_semantic_dedup_capped")
    assert(cappedDups.subsetOf(exactDups),
      "capped merges must be a subset of d13's (pair subset ⟹ refinement)")
    assert(exactDups.nonEmpty, "sf0.001 must contain semantic dup structure")
    val recall = cappedDups.size.toDouble / exactDups.size
    info(f"d16 merge recall vs d13 at sf0.001: $recall%.3f " +
      s"(${cappedDups.size}/${exactDups.size})")
    // measured (numbers in SCALE.md): 1.000 at
    // sf0.001 and sf0.01 (14/14, 26/26 — few cells, dup cliques co-celled),
    // 0.429 at sf0.1 where ~31 cells split the LOOSE 0.35-0.5-cos pairs
    // (the only pair above cos 0.5 there survives — boundary loss is a
    // looseness effect, the documented SemDeDup trade). This spec runs at
    // sf0.001; floor at 0.9 — below that the quantizer is broken, not
    // unlucky.
    assert(recall >= 0.9, f"d16 recall collapsed: $recall%.3f < 0.9")
  }

  test("d16: merge recall pinned AT THE OPERATING POINT (sf0.1)") {
    // VERDICT r11 #4: the sf0.001 pin above guards a corpus where recall
    // is 1.000 — it cannot fail at the bench SF, where boundary loss is
    // real. Pin the bench-SF number itself (deterministic: md5-hash
    // centroid selection, exact kernels): 0.4293, measured in SCALE.md —
    // the floor leaves room for testdata regeneration, not for a quantizer
    // regression (an assignment bug shreds cliques and reads near zero).
    val sf01 = "/root/testdata/sf0.1"
    def drops(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.getLong(0)).toSet
    val e13 = drops(Dedup.defs.find(_.name == "d13_semantic_dedup").get
      .build(spark, sf01).filter(col("keep") === 0).select("vec_id"))
    val c16 = drops(Dedup.defs.find(_.name == "d16_semantic_dedup_capped")
      .get.build(spark, sf01).filter(col("keep") === 0).select("vec_id"))
    assert(c16.subsetOf(e13), "d16 merges must refine d13's")
    val r1 = (c16 & e13).size.toDouble / e13.size
    info(f"sf0.1 merge recall: $r1%.4f")
    assert(r1 >= 0.35, f"operating-point recall collapsed: $r1%.4f")
  }

  test("d12: span counts reconcile and the earliest doc keeps its spans") {
    val rows = Dedup.defs.find(_.name == "d12_span_dedup").get
      .build(spark, dir).collect()
    assert(rows.nonEmpty)
    // conservation: every span is either kept or dropped
    rows.foreach { r =>
      assert(r.getLong(1) == r.getLong(2) + r.getLong(3),
        s"n_spans != n_kept + n_dropped for doc ${r.getLong(0)}")
    }
    // global: total kept == number of distinct spans in the corpus (each
    // distinct span survives exactly once)
    import graft.Tables
    val toks = split(col("text"), " ")
    val spans = transform(
      sequence(lit(0), ceil(size(toks) / 10.0).cast("int") - 1),
      i => array_join(slice(toks, i * 10 + 1, lit(10)), " "))
    val allSpans = Tables.documents(spark, dir)
      .select(explode(spans).as("span"))
    val nDistinct = allSpans.distinct().count()
    assert(rows.map(_.getLong(2)).sum == nDistinct,
      "sum of kept spans must equal the distinct-span count")
    // the lowest doc_id sees every one of its distinct spans first
    val firstDoc = rows.minBy(_.getLong(0))
    val firstDistinct = Tables.documents(spark, dir)
      .filter(col("doc_id") === firstDoc.getLong(0))
      .select(explode(spans).as("span")).distinct().count()
    assert(firstDoc.getLong(2) == firstDistinct,
      "earliest doc must keep exactly its distinct spans")
  }

  test("d15: every delta doc gets exactly one well-formed ingest decision") {
    val q = Dedup.defs.find(_.name == "d15_delta_dedup").get
    val out = q.build(spark, dir).collect()
    val deltaIds = graft.Tables.documents(spark, dir)
      .filter(org.apache.spark.sql.functions.col("source") === "src19")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(out.map(_.getAs[Long]("doc_id")).toSet == deltaIds)
    assert(out.length == deltaIds.size)
    out.foreach { r =>
      val (st, dup, j) = (r.getAs[String]("status"),
        r.getAs[Long]("dup_of"), r.getAs[Double]("jaccard"))
      st match {
        case "new" =>
          assert(dup == -1L && j == 0.0)
        case "dup_in_batch" =>
          // first-writer wins: the kept partner is a SMALLER delta doc
          assert(deltaIds.contains(dup) && dup < r.getAs[Long]("doc_id"))
          assert(j >= 0.8)
        case "dup_of_corpus" =>
          assert(!deltaIds.contains(dup) && j >= 0.8)
        case other => fail(s"unexpected status $other")
      }
    }
  }

  test("random graphs agree with a reference union-find (50 seeds)") {
    // Inputs are drawn SEQUENTIALLY (the rnd sequence pins the exact same
    // 50 graphs as before), then the trials — independent multi-job Spark
    // CC runs — execute on a small thread pool (guide §2.6: actions are
    // only sequential because the driver calls them sequentially). Same
    // trials, same assertions; this test alone was 3 min 55 s of the
    // suite's 12-minute wall run back-to-back (artifacts/r15/
    // test_profile_r15.log), dominated by per-job scheduling floors that
    // overlap perfectly.
    val rnd = new scala.util.Random(42)
    val trials = (1 to 50).map { trial =>
      val n = 4 + rnd.nextInt(12)
      val pairs = Seq.fill(2 + rnd.nextInt(10))(
        (rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
        .filter { case (a, b) => a != b }
      (trial, pairs)
    }
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration.Duration
    val pool = java.util.concurrent.Executors.newFixedThreadPool(8)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    val futures = trials.map { case (trial, pairs) => Future {
      if (pairs.nonEmpty) {
        // driver-side union-find ground truth
        val parent = scala.collection.mutable.Map.empty[Long, Long]
        def find(x: Long): Long = {
          val p = parent.getOrElseUpdate(x, x)
          if (p == x) x else { val r = find(p); parent(x) = r; r }
        }
        pairs.foreach { case (a, b) =>
          val (ra, rb) = (find(a), find(b))
          if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
        }
        val want = parent.keys.map(k => k -> find(k)).toMap
        val got = components(pairs)
        assert(got == want, s"trial $trial (star), pairs=$pairs")
      }
    }}
    try futures.foreach(f => Await.result(f, Duration.Inf))
    finally pool.shutdown()
  }

  test("adversarial graphs (cliques + chains + dup/self edges) at 100-300 nodes") {
    // stresses the RDD loop's no-intermediate-distinct path (duplicate
    // edges between stars), self-loop filtering, and the O(log²) bound on
    // mixed shapes bigger than the 16-node random trials above
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    (1 to 5).foreach { trial =>
      val n = 100 + rnd.nextInt(200)
      val base = scala.collection.mutable.Buffer.empty[(Long, Long)]
      // a few cliques over random node subsets
      (0 until 3).foreach { _ =>
        val sz = 4 + rnd.nextInt(8)
        val nodes = Seq.fill(sz)(rnd.nextInt(n).toLong).distinct
        for (a <- nodes; b <- nodes if a < b) base += ((a, b))
      }
      // one long chain over even ids
      (0 until n / 2 - 1).foreach(i => base += ((i * 2L, i * 2L + 2)))
      // noise: random edges, duplicates, self-loops
      (0 until n).foreach { _ =>
        val (a, b) = (rnd.nextInt(n).toLong, rnd.nextInt(n).toLong)
        base += ((a, b)); base += ((a, b)); base += ((a, a))
      }
      val pairs = base.toSeq
      val parent = scala.collection.mutable.Map.empty[Long, Long]
      def find(x: Long): Long = {
        val p = parent.getOrElseUpdate(x, x)
        if (p == x) x else { val r = find(p); parent(x) = r; r }
      }
      pairs.foreach { case (a, b) =>
        if (a != b) {
          val (ra, rb) = (find(a), find(b))
          if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
        }
      }
      // ground truth covers only nodes with at least one non-self edge
      // (self-loop-only nodes are filtered by the loop)
      val touched = pairs.collect { case (a, b) if a != b => Seq(a, b) }
        .flatten.toSet
      val want = touched.map(k => k -> find(k)).toMap
      val (labels, iters) = Dedup.connectedComponentsWithStats(
        pairs.toDF("src", "dst"))
      val got = labels.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got == want, s"adversarial trial $trial: labels diverge")
      assert(iters <= 15, s"adversarial trial $trial: $iters star rounds")
    }
  }
}
