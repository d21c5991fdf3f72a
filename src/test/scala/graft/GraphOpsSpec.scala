package graft

import org.apache.spark.sql.functions._

import graft.operators.GraphOps

class GraphOpsSpec extends SparkSpec {
  import spark.implicits._

  test("pageRank: hand-checked integer updates on the path graph 1-2-3") {
    // deg: 1->1, 2->2, 3->1; N=3; teleport = 15*1e6/300 = 50000;
    // init r0 = 1e6 div 3 = 333333 per node
    // round 1: r(2) = 50000 + 85*(333333 + 333333) div 100   = 616666
    //          r(1) = r(3) = 50000 + 85*(333333 div 2) div 100 = 191666
    // round 2: r(2) = 50000 + 85*(191666*2) div 100          = 375832
    //          r(1) = r(3) = 50000 + 85*(616666 div 2) div 100 = 312083
    val edges = Seq((1L, 2L), (2L, 1L), (2L, 3L), (3L, 2L)).toDF("u", "v")
    val got = GraphOps.pageRank(edges, iters = 2, k = 3, scale = 1000000L)
      .as[(Int, Long, Long)].collect().toSeq
    assert(got == Seq((1, 2L, 375832L), (2, 1L, 312083L), (3, 3L, 312083L)))
  }

  test("pageRank: total mass conserved at ~scale up to integer-floor loss") {
    val edges = Seq((1L, 2L), (2L, 1L), (2L, 3L), (3L, 2L)).toDF("u", "v")
    val scale = 1000000L
    val total = GraphOps.pageRank(edges, iters = 1, k = 3, scale = scale)
      .agg(sum(col("score"))).as[Long].head()
    // floors lose at most 1 unit each: init (per node), contribution (per
    // edge), damping + teleport (per node) — mass only shrinks, slightly
    assert(total <= scale && total > scale - (3 + 4 + 2 * 3))
  }

  test("copurchaseEdges: symmetric and id spaces disjoint") {
    val e = GraphOps.copurchaseEdges(sf("lineitem"))
    val fwd = e.filter(col("u") < 1000000L)
    val rev = e.filter(col("u") >= 1000000L)
    assert(fwd.count() == rev.count() && fwd.count() > 0)
    assert(fwd.select(col("u"), col("v"))
      .except(rev.select(col("v"), col("u"))).isEmpty)
    // suppliers stay below the part offset; parts above
    assert(fwd.filter(col("v") < 1000000L).isEmpty)
  }

  test("coOrderEdges: parts sharing an order pair once, canonical a < b") {
    import spark.implicits._
    val li = Seq((10L, 3L), (10L, 1L), (10L, 2L), (11L, 1L), (11L, 2L), (12L, 5L))
      .toDF("l_orderkey", "l_partkey")
    val got = GraphOps.coOrderEdges(li).as[(Long, Long)].collect().toSet
    // order 11 repeats the (1,2) edge -> still one row; singleton order 12
    // contributes nothing
    assert(got == Set((1L, 2L), (1L, 3L), (2L, 3L)))
  }

  test("triangleStats: triangle + pendant edge, and the 4-clique") {
    import spark.implicits._
    val e1 = Seq((1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L)).toDF("a", "b")
    val got = GraphOps.triangleStats(e1).as[(Long, Long, Long, Long)].head()
    assert(got == ((4L, 4L, 1L, 1L)))
    // K4: every out-neighbor pair of the orientation's sources closes —
    // C(4,3) = 4 triangles from 4 wedges
    val k4 = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L))
      .toDF("a", "b")
    val g2 = GraphOps.triangleStats(k4).as[(Long, Long, Long, Long)].head()
    assert(g2 == ((4L, 6L, 4L, 4L)))
  }

  test("sorted_intersect_count == size(array_intersect) on sorted distinct arrays") {
    // the census kernel's contract (SortedIntersectCount): on sorted,
    // distinct long arrays the two-pointer count is bit-identical to the
    // built-in — including empty sides, disjoint sets, and full overlap
    val rows = Seq(
      (Seq(1L, 3L, 5L, 9L), Seq(2L, 3L, 5L, 10L)), // partial overlap
      (Seq(1L, 2L), Seq(3L, 4L)),                  // disjoint
      (Seq(7L, 8L, 9L), Seq(7L, 8L, 9L)),          // identical
      (Seq.empty[Long], Seq(1L, 2L)),              // empty left
      (Seq(1L, 2L), Seq.empty[Long])               // empty right
    ).toDF("xs", "ys")
    val got = rows.select(
      call_function("sorted_intersect_count", col("xs"), col("ys")).as("k"),
      size(array_intersect(col("xs"), col("ys"))).as("ref"))
      .as[(Int, Int)].collect()
    got.foreach { case (k, ref) => assert(k == ref) }
    // string arrays (the shingle-verify path): same contract under
    // sort_array's UTF8String binary order
    val srows = Seq(
      (Seq("a b c", "b c d", "x y z"), Seq("b c d", "c d e", "x y z")),
      (Seq("a", "é", "ñ"), Seq("a", "b", "é")),
      (Seq.empty[String], Seq("a"))
    ).toDF("xs", "ys")
    val sgot = srows.select(
      call_function("sorted_intersect_count",
        sort_array(col("xs")), sort_array(col("ys"))).as("k"),
      size(array_intersect(col("xs"), col("ys"))).as("ref"))
      .as[(Int, Int)].collect()
    sgot.foreach { case (k, ref) => assert(k == ref) }
    // null-array semantics mirror the built-in's (null in -> null out)
    val withNull = rows.select(
      call_function("sorted_intersect_count",
        lit(null).cast("array<bigint>"), col("ys")).isNull.as("n"))
      .as[Boolean].collect()
    assert(withNull.forall(identity))
  }

  test("labelPropagation: bridged triangles settle into two communities") {
    import spark.implicits._
    // two triangles {1,2,3} and {4,5,6} joined by the bridge 3-4; hand-run
    // of 3 synchronous min-tie-break rounds:
    //   r1: 1→2 2→1 3→1 4→3 5→4 6→4
    //   r2: 1→1 2→1 3→1 4→4 5→3 6→3
    //   r3: 1→1 2→1 3→1 4→3 5→3 6→3
    // the bridge does NOT merge the communities (a majority would be
    // needed) — the behavioral contrast with connected components
    val und = Seq((1L, 2L), (2L, 3L), (1L, 3L),
      (4L, 5L), (5L, 6L), (4L, 6L), (3L, 4L))
    val e = (und ++ und.map(_.swap)).toDF("u", "v")
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val got = GraphOps.labelPropagation(e)
      .as[(Long, Long, Long)].collect().toSeq
    assert(got == Seq(
      (1L, 1L, 3L), (2L, 1L, 3L), (3L, 1L, 3L),
      (4L, 3L, 3L), (5L, 3L, 3L), (6L, 3L, 3L)))
    releaseNewSince(before)
  }

  test("labelPropagation: releases the edge cache, keeps only its checkpoint") {
    import spark.implicits._
    val und = Seq((1L, 2L), (2L, 3L))
    val e = (und ++ und.map(_.swap)).toDF("u", "v")
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val (_, kept) = persistedBy(GraphOps.labelPropagation(e).collect())
    assert(kept.size <= 1)
    releaseNewSince(before)
  }

  test("kcore: deletion cascade uses every round; clique core survives") {
    import spark.implicits._
    // triangle {1,2,3} + path 3-4-5: k=2 peeling needs the full cascade —
    //   r1 removes 5 (deg 1), r2 removes 4 (deg fell to 1), r3 stable
    val und = Seq((1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L), (4L, 5L))
    val e = (und ++ und.map(_.swap)).toDF("u", "v")
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val got = GraphOps.kcore(e, k = 2, rounds = 3)
      .as[(Long, Long)].collect().toSeq
    assert(got == Seq((1L, 2L), (2L, 2L), (3L, 2L)))
    releaseNewSince(before)
  }

  test("kcore: early-exit fires at the fixpoint, never prematurely") {
    import spark.implicits._
    // K4 clique: round 1 deletes nothing (everyone deg 3 >= 2) -> fixpoint
    // observed -> rounds 2..3's shuffles skipped entirely
    val clique = (for { a <- 1L to 4L; b <- 1L to 4L if a != b } yield (a, b))
      .toDF("u", "v")
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val (core, executed) = GraphOps.kcoreWithRounds(clique, k = 2, rounds = 3)
    assert(core.as[(Long, Long)].collect().toSeq == (1L to 4L).map((_, 3L)))
    assert(executed == 1, s"expected early exit after 1 round, ran $executed")
    // the full-cascade fixture really needs every round — no premature exit
    val und = Seq((1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L), (4L, 5L))
    val e = (und ++ und.map(_.swap)).toDF("u", "v")
    val (_, cascades) = GraphOps.kcoreWithRounds(e, k = 2, rounds = 3)
    assert(cascades == 3, s"cascade fixture exited after $cascades rounds")
    releaseNewSince(before)
  }

  test("kcore: under-peeling contract — too few rounds only ever UNDER-peels") {
    import spark.implicits._
    // same fixture with rounds=1: node 4 (not yet cascaded) survives with
    // its post-peel degree; the true core is a subset
    val und = Seq((1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L), (4L, 5L))
    val e = (und ++ und.map(_.swap)).toDF("u", "v")
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val got = GraphOps.kcore(e, k = 2, rounds = 1)
      .as[(Long, Long)].collect().toMap
    assert(got.keySet == Set(1L, 2L, 3L, 4L) && got(4L) == 1L)
    releaseNewSince(before)
  }

  /** Release blocks this test created (the by-design label-state
    * checkpoint): the suites share one session, and a survivor swept later
    * by the async ContextCleaner would skew another suite's exact
    * persistent-RDD delta.
    */
  test("degreeHistogram: path + hub fixture, tail counts reverse-cumulate") {
    // path a-b-c plus hub d connected to a, b, c:
    // degrees: a=2, b=3, c=2, d=3 -> hist (2,2), (3,2); ge: deg2 -> 4, deg3 -> 2
    val edges = Seq((1L, 2L), (2L, 3L), (1L, 4L), (2L, 4L), (3L, 4L)).toDF("a", "b")
    val got = GraphOps.degreeHistogram(edges)
      .as[(Long, Long, Long)].collect().toSeq
    assert(got == Seq((2L, 2L, 4L), (3L, 2L, 2L)))
  }

  private def releaseNewSince(before: scala.collection.Set[Int]): Unit = {
    val now = spark.sparkContext.getPersistentRDDs
    now.keySet.diff(before).foreach(id => now(id).unpersist(blocking = true))
  }
}
