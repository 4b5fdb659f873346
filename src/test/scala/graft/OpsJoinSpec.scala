package graft

import java.sql.Timestamp

import org.apache.spark.sql.functions._

import graft.ops.{AsOfJoin, ConnectedComponents, RangeJoin}

/** Semantics + plan shape of the custom join operators (as-of join,
  * range join) — the two relational ops Spark lacks natively,
  * re-expressed as window/equi-join rewrites. */
class OpsJoinSpec extends SparkSpecBase {

  private def ts(sec: Long) = new Timestamp(sec * 1000)

  test("asOf: <= match, latest wins, equal-ts ties, null when no prior row") {
    import spark.implicits._
    val left = Seq( // (id, key, ts)
      (1L, "a", ts(100)),
      (2L, "a", ts(50)), // before every right row -> null match
      (3L, "a", ts(60)), // exactly AT a right ts -> <= matches it
      (4L, "b", ts(100)) // other key: isolated
    ).toDF("id", "k", "t")
    val right = Seq( // (key, ts, payload)
      ("a", ts(60), 600L),
      ("a", ts(60), 601L), // equal-ts tie -> largest payload wins
      ("a", ts(90), 900L),
      ("b", ts(10), 111L)
    ).toDF("k", "t", "v")

    val out = AsOfJoin.asOf(left, right, key = "k", leftTs = "t",
        rightTs = "t", carry = Seq("v"))
      .select(col("id"), col("asof.v").as("v"))
      .collect().map(r => (r.getLong(0), if (r.isNullAt(1)) -1L else r.getLong(1)))
      .toMap
    assert(out == Map(1L -> 900L, 2L -> -1L, 3L -> 601L, 4L -> 111L))
  }

  test("asOf directions + tolerance match a brute-force oracle (incl. ties)") {
    import spark.implicits._
    // deterministic pseudo-random data with DELIBERATE collisions:
    // i*37%100 / j*53%100 produce repeated timestamps within keys, so
    // equal-ts and equal-gap tie rules are genuinely exercised
    val lrows = (1 to 120).map(i => (i.toLong, s"k${i % 4}", (i * 37 % 100).toLong))
    val rrows = (1 to 80).map(j => (s"k${j % 4}", (j * 53 % 100).toLong, j.toLong))
    val left = lrows.map { case (id, k, s) => (id, k, ts(s)) }.toDF("id", "k", "t")
    val right = rrows.map { case (k, s, v) => (k, ts(s), v) }.toDF("k", "t", "v")

    def brute(dir: String, tol: Option[Double],
        exact: Boolean = true): Map[Long, Long] =
      lrows.map { case (id, k, lt) =>
        val cands = rrows.filter(_._1 == k)
        // tie rules mirror the operator: equal ts → largest payload
        // struct (ts, v); nearest equal gap → backward
        val back = cands.filter(c => if (exact) c._2 <= lt else c._2 < lt)
          .sortBy(c => (c._2, c._3)).lastOption
        val fwd = cands.filter(c => if (exact) c._2 >= lt else c._2 > lt)
          .sortBy(c => (-c._2, c._3)).lastOption
        val pick = dir match {
          case "backward" => back
          case "forward"  => fwd
          case "nearest" => (back, fwd) match {
            case (Some(b), Some(f)) =>
              if (lt - b._2 <= f._2 - lt) Some(b) else Some(f)
            case (b, f) => b.orElse(f)
          }
        }
        val bounded = pick.filter(c => tol.forall(t => math.abs(c._2 - lt) <= t))
        id -> bounded.map(_._3).getOrElse(-1L)
      }.toMap

    for (dir <- Seq("backward", "forward", "nearest");
         tol <- Seq(None, Some(7.0))) {
      val got = AsOfJoin.asOf(left, right, "k", "t", "t", Seq("v"),
          direction = dir, toleranceSecs = tol)
        .select(col("id"), col("asof.v"))
        .collect().map(r => (r.getLong(0), if (r.isNullAt(1)) -1L else r.getLong(1)))
        .toMap
      assert(got == brute(dir, tol), s"direction=$dir tolerance=$tol")
    }

    // strict boundary (allowExactMatches = false): equal-ts rights are
    // excluded — the colliding timestamps above make this bite
    for (dir <- Seq("backward", "forward", "nearest")) {
      val got = AsOfJoin.asOf(left, right, "k", "t", "t", Seq("v"),
          direction = dir, allowExactMatches = false)
        .select(col("id"), col("asof.v"))
        .collect().map(r => (r.getLong(0), if (r.isNullAt(1)) -1L else r.getLong(1)))
        .toMap
      val want = brute(dir, None, exact = false)
      assert(got == want, s"strict direction=$dir")
      assert(got != brute(dir, None), s"strict $dir did not differ — data has no equal-ts pair?")
    }
  }

  test("asOf forward/nearest keep the one-exchange zero-join plan") {
    import spark.implicits._
    val left = (1 to 60).map(i => (i.toLong, s"k${i % 5}", ts(i.toLong))).toDF("id", "k", "t")
    val right = (1 to 30).map(i => (s"k${i % 5}", ts(i.toLong * 2), i.toLong)).toDF("k", "t", "v")
    Seq("forward", "nearest").foreach { dir =>
      val df = AsOfJoin.asOf(left, right, "k", "t", "t", Seq("v"), direction = dir)
      df.collect()
      val plan = df.queryExecution.executedPlan.toString.split("Initial Plan")(0)
      assert(!plan.contains("Join"), s"$dir joins:\n$plan")
      assert(plan.split("Exchange").length - 1 == 1, s"$dir shuffles more than once:\n$plan")
    }
  }

  test("asOf plan: one exchange (the window), zero joins") {
    import spark.implicits._
    val left = (1 to 100).map(i => (i.toLong, s"k${i % 5}", ts(i.toLong))).toDF("id", "k", "t")
    val right = (1 to 50).map(i => (s"k${i % 5}", ts(i.toLong * 2), i.toLong)).toDF("k", "t", "v")
    val df = AsOfJoin.asOf(left, right, "k", "t", "t", Seq("v"))
    df.collect()
    // AQE's toString appends the pre-adaptive "Initial Plan" — count
    // operators in the final plan only
    val plan = df.queryExecution.executedPlan.toString.split("Initial Plan")(0)
    assert(!plan.contains("Join"), s"asOf joins:\n$plan")
    assert(plan.split("Exchange").length - 1 == 1, s"asOf shuffles more than once:\n$plan")
  }

  test("connectedComponents: chain, triangle, singletons — min label per component") {
    import spark.implicits._
    // a 5-chain (diameter 4 → exercises several propagation rounds),
    // a triangle with duplicate/reversed edges, two isolated vertices
    val vertices = (1L to 10L).toDF("v")
    val edges = Seq(
      (1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L),
      (7L, 8L), (9L, 8L), (7L, 9L), (8L, 7L)).toDF("a", "b")
    val got = ConnectedComponents.run(vertices, "v", edges, "a", "b")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(
      1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L, 5L -> 1L,
      6L -> 6L, 7L -> 7L, 8L -> 7L, 9L -> 7L, 10L -> 10L))

    // edges touching vertices OUTSIDE the given set are ignored — no
    // phantom nodes in the output, no phantom canonical labels
    val phantomEdges = edges.unionByName(Seq((2L, 99L), (98L, 97L)).toDF("a", "b"))
    val got2 = ConnectedComponents.run(vertices, "v", phantomEdges, "a", "b")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got2 == got)

    // a component needing more rounds than the bound THROWS instead of
    // silently returning split clusters. One chain edge per partition
    // keeps the contracted quotient a chain (a single partition would
    // collapse it to one star), and solveMax = 0 forces the label loop.
    val chain = (1L to 9L).map(i => (i, i + 1)).toDF("a", "b").repartition(9)
    val chainV = (1L to 10L).toDF("v")
    intercept[IllegalStateException] {
      ConnectedComponents.runWith(chainV, "v", chain, "a", "b",
        maxIter = 3, solveMax = 0L).collect()
    }
    assert(ConnectedComponents.runWith(chainV, "v", chain, "a", "b",
        maxIter = 12, solveMax = 0L)
      .collect().forall(_.getLong(1) == 1L))
  }

  test("connectedComponents: every long is a legal id (Long.MinValue, Long.MaxValue, 0)") {
    import spark.implicits._
    val vertices = Seq(Long.MinValue, 0L, Long.MaxValue, 7L).toDF("v")
    val edges = Seq((Long.MaxValue, 0L), (0L, Long.MinValue)).toDF("a", "b")
    for (solveMax <- Seq(8000000L, 0L)) {
      val got = ConnectedComponents.runWith(vertices, "v", edges, "a", "b",
          maxIter = 20, solveMax = solveMax)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got == Map(Long.MinValue -> Long.MinValue, 0L -> Long.MinValue,
        Long.MaxValue -> Long.MinValue, 7L -> 7L), s"solveMax=$solveMax")
    }
  }

  test("connectedComponents type contract: int/short ids keep their type, a double id fails before any job") {
    import spark.implicits._
    import org.apache.spark.scheduler.JobShape
    import org.apache.spark.sql.types.{DoubleType, IntegerType, ShortType}
    val edges = Seq((1, 2), (2, 3), (5, 6)).toDF("a", "b")
    val want = Map(1 -> 1, 2 -> 1, 3 -> 1, 4 -> 4, 5 -> 5, 6 -> 5)
    for (t <- Seq(IntegerType, ShortType)) {
      val got = ConnectedComponents.run((1 to 6).toDF("v").select(col("v").cast(t)),
        "v", edges.select(col("a").cast(t), col("b").cast(t)), "a", "b")
      assert(got.schema.map(_.dataType) == Seq(t, t))
      assert(got.collect().map(r => r.getAs[Number](0).intValue ->
        r.getAs[Number](1).intValue).toMap == want, t.simpleString)
    }
    val doubles = (1 to 6).toDF("v").select(col("v").cast(DoubleType))
    val jobs = JobShape.of(spark.sparkContext) {
      val e = intercept[IllegalArgumentException] {
        ConnectedComponents.run(doubles, "v",
          edges.select(col("a").cast(DoubleType), col("b").cast(DoubleType)), "a", "b")
      }
      assert(e.getMessage.contains("bigint, int, smallint, tinyint or string"))
    }
    assert(jobs == Seq())
  }

  test("string vertex ids: codec-keyed or boxed, labels decode exactly") {
    import spark.implicits._
    // same chain + triangle + singleton topology as the long-id test,
    // but string-keyed: fixed-width ids are keyed to longs by the
    // numeric-suffix codec and decoded at exit
    val f = (i: Int) => f"v_$i%03d"
    val vertices = (1 to 10).map(f).toDF("v")
    val edges = Seq((1, 2), (2, 3), (3, 4), (4, 5), (7, 8), (9, 8), (7, 9), (8, 7))
      .map { case (a, b) => (f(a), f(b)) }.toDF("a", "b")
    val got = ConnectedComponents.run(vertices, "v", edges, "a", "b")
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(got == Map(
      f(1) -> f(1), f(2) -> f(1), f(3) -> f(1), f(4) -> f(1), f(5) -> f(1),
      f(6) -> f(6), f(7) -> f(7), f(8) -> f(7), f(9) -> f(7), f(10) -> f(10)))

    // variable-width ids must stay boxed strings — the min label is
    // then LEXICOGRAPHIC ("v_100" < "v_7"), so a wrong codec accept
    // (numeric order) would flip this component's canonical label and
    // fail here.
    val g = (i: Int) => s"v_$i"
    val vertices2 = ((1 to 10) :+ 100).map(g).toDF("v")
    val edges2 = (Seq((1, 2), (2, 3), (3, 4), (4, 5), (7, 8), (9, 8), (9, 100))
      .map { case (a, b) => (g(a), g(b)) }).toDF("a", "b")
    val got2 = ConnectedComponents.run(vertices2, "v", edges2, "a", "b")
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(got2 == Map(
      g(1) -> g(1), g(2) -> g(1), g(3) -> g(1), g(4) -> g(1), g(5) -> g(1),
      g(6) -> g(6), g(7) -> g(100), g(8) -> g(100), g(9) -> g(100),
      g(10) -> g(10), g(100) -> g(100)))

    // boxed ids order as Spark orders strings (UTF-8 bytes): U+E000
    // sorts below the surrogate pair of U+1F600, where Java's UTF-16
    // compareTo says the opposite. One edge per partition puts U+FFFF
    // under two hubs, so the quotient holds the other two; the driver
    // solve and the label loop must both pick U+E000.
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types.{StringType, StructField, StructType}
    val (emoji, pua, top) = ("\uD83D\uDE00", "\uE000", "\uFFFF")
    val edges3 = spark.createDataFrame(
      spark.sparkContext.parallelize(Seq(Row(top, emoji), Row(top, pua)), 2),
      StructType(Seq(StructField("a", StringType), StructField("b", StringType))))
    for (solveMax <- Seq(8000000L, 0L)) {
      val got3 = ConnectedComponents.runWith(Seq(emoji, pua, top).toDF("v"), "v",
          edges3, "a", "b", maxIter = 20, solveMax = solveMax)
        .collect().map(r => r.getString(0) -> r.getString(1)).toMap
      assert(got3 == Map(emoji -> pua, pua -> pua, top -> pua), s"solveMax=$solveMax")
    }
  }

  test("numeric-suffix codec: accepts only provably fixed-shape ids") {
    import spark.implicits._
    import org.apache.spark.sql.DataFrame
    def codec(ids: Seq[String]): Option[_] =
      ConnectedComponents.numericSuffixCodec(ids.toDF("node"))
    assert(codec(Seq("doc_001", "doc_999", "doc_042")).isDefined)
    assert(codec(Seq("001", "999")).isDefined) // empty prefix is legal
    assert(codec(Seq("doc_1", "doc_22")).isEmpty)   // width varies
    assert(codec(Seq("doc_01", "dog_02")).isEmpty)  // prefix varies
    assert(codec(Seq("doc_01", "doc_xx")).isEmpty)  // no digit suffix
    assert(codec(Seq.empty[String]).isEmpty)        // empty set
    // >18-digit suffixes: the codec hashes at most the LAST 18 digits;
    // constant overflow digits fold into the proven prefix (legal),
    // varying overflow digits break prefix equality (rejected)
    assert(codec(Seq("a0000000000000000000001",
                     "a0000000000000000000002")).isDefined)
    assert(codec(Seq("a1000000000000000000001",
                     "a2000000000000000000002")).isEmpty)
    // round-trip on an accepted shape: encode is order-preserving and
    // decode inverts it exactly
    val ids = Seq("doc_093", "doc_007", "doc_500")
    val Some((enc, dec)) = ConnectedComponents.numericSuffixCodec(ids.toDF("node"))
      .asInstanceOf[Option[(org.apache.spark.sql.Column => org.apache.spark.sql.Column,
                            org.apache.spark.sql.Column => org.apache.spark.sql.Column)]]
    val rt = ids.toDF("node")
      .select(col("node"), enc(col("node")).as("e"))
      .select(col("node"), col("e"), dec(col("e")).as("d"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getString(2)))
    assert(rt.forall { case (n, _, d) => n == d })
    assert(rt.sortBy(_._1).map(_._2).sameElements(rt.map(_._2).sorted))
  }

  test("local contraction preserves components exactly on a random graph") {
    import spark.implicits._
    import scala.reflect.runtime.universe.TypeTag
    // pseudo-random sparse graph over 400 vertices: rings + random
    // chords + self-loops + duplicate and reversed edges, spread over
    // many partitions so contraction sees fragments of components
    val rnd = new scala.util.Random(1234)
    val pairs = (0 until 390).map(i => (i, i + rnd.nextInt(3) + 1)) ++
      (0 until 150).map(_ => (rnd.nextInt(400), rnd.nextInt(400)))
    // independent reference: a plain union-find over the same edge
    // list; the smaller root wins, so every root is its component's min
    def reference[K](keys: Seq[K])(implicit ord: Ordering[K]): Map[K, K] = {
      val parent = scala.collection.mutable.Map(keys.map(k => k -> k): _*)
      def find(k: K): K =
        if (parent(k) == k) k else { val r = find(parent(k)); parent(k) = r; r }
      pairs.foreach { case (a, b) =>
        val (ra, rb) = (find(keys(a)), find(keys(b)))
        parent(ord.max(ra, rb)) = ord.min(ra, rb)
      }
      keys.map(k => k -> find(k)).toMap
    }
    // the driver solve (run) and the forced label loop must both equal
    // the reference, whichever way the ids are keyed
    def agrees[K: TypeTag: Ordering](id: Int => K): Unit = {
      val keys = (0 until 400).map(id)
      val vertices = keys.map(Tuple1(_)).toDF("v")
      val edges = pairs.map { case (a, b) => (keys(a), keys(b)) }
        .toDF("a", "b").repartition(17)
      val expected = reference(keys)
      def labels(df: org.apache.spark.sql.DataFrame) =
        df.collect().map(r => r.getAs[K](0) -> r.getAs[K](1)).toMap
      assert(labels(ConnectedComponents.run(vertices, "v", edges, "a", "b"))
        == expected, s"driver solve, ${keys.head.getClass.getSimpleName} ids")
      assert(labels(ConnectedComponents.runWith(vertices, "v", edges, "a", "b",
          maxIter = 20, solveMax = 0L))
        == expected, s"label loop, ${keys.head.getClass.getSimpleName} ids")
    }
    agrees(_.toLong)
    agrees(identity[Int])
    agrees(i => f"v_$i%03d") // fixed width: codec-keyed longs
    agrees(i => s"v_$i")     // variable width: boxed, lexicographic min

    // the contraction emits (member → partition min) star edges and
    // never self-edges
    val oriented = pairs.map { case (a, b) => (a.toLong, b.toLong) }
      .toDF("src", "dst").repartition(17)
    val contracted = ConnectedComponents.contractLocal(oriented)
    assert(contracted.filter(col("src") === col("dst")).count() == 0)

    // on the layout the operator actually feeds it (edges co-located
    // by hub — LSH buckets land together), the output is no larger
    // than the input: 40 hubs × 50 members in 8 partitions
    val stars = (0 until 2000).map(i => (s"hub_${i % 40}", s"m_${i % 40}_${i / 40}"))
      .toDF("src", "dst").repartition(8, col("src"))
    val cs = ConnectedComponents.contractLocal(stars).distinct().count()
    val ss = stars.distinct().count()
    assert(cs <= ss, s"contracted $cs > input $ss on hub-clustered input")
  }

  test("LSH star edges span exactly the same components as all-pairs edges") {
    import spark.implicits._
    import graft.dedup.MinHashLsh
    // 7 near-dup families sharing text → same signatures → same buckets
    val docs = (1 to 60).map { i =>
      val fam = i % 7
      (i.toLong, s"familie $fam gemeinsamer text korpus " + ("wort " * (fam + 3)))
    }.toDF("doc_id", "text")
    val sig = MinHashLsh.xxhashSignature(docs, "doc_id", "text", 8)
    def components(edges: org.apache.spark.sql.DataFrame) =
      ConnectedComponents.run(docs.select(col("doc_id")), "doc_id",
          edges.select(col("d1"), col("d2")), "d1", "d2")
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val pairs = MinHashLsh.bandPairs(sig, 8, 2,
      (a, b) => xxhash64(a, b), maxBucket = 0)
    val stars = MinHashLsh.bandStarEdges(sig, 8, 2, (a, b) => xxhash64(a, b))
    val byPairs = components(pairs)
    val byStars = components(stars)
    assert(byPairs == byStars)
    assert(byPairs.values.toSet.size < 60, "families never merged — degenerate corpus")
    // the point of the star form: linear, never larger than all-pairs
    assert(stars.count() <= pairs.count())
    spark.catalog.clearCache()
  }

  test("rangeJoin: containment exact on half-open boundaries, multi-bin intervals") {
    import spark.implicits._
    val points = Seq((1L, 0.0), (2L, 9.99), (3L, 10.0), (4L, 25.0), (5L, 29.99),
      (6L, 30.0), (7L, 55.0)).toDF("pid", "pos")
    // [10, 30): spans bins 1-2 at width 10; [0, 10): one bin; [20, 56): 4 bins
    val ivs = Seq((10, 10.0, 30.0), (20, 0.0, 10.0), (30, 20.0, 56.0)).toDF("iid", "s", "e")
    val got = RangeJoin.pointInInterval(points, "pos", ivs, "s", "e", binWidth = 10.0)
      .select(col("pid"), col("iid")).collect().map(r => (r.getLong(0), r.getInt(1))).toSet
    val brute = (for {
      (pid, pos) <- Seq((1L, 0.0), (2L, 9.99), (3L, 10.0), (4L, 25.0), (5L, 29.99),
        (6L, 30.0), (7L, 55.0))
      (iid, s, e) <- Seq((10, 10.0, 30.0), (20, 0.0, 10.0), (30, 20.0, 56.0))
      if pos >= s && pos < e
    } yield (pid, iid)).toSet
    assert(got == brute)
    // each matching pair appears exactly once (a point is in ONE bin)
    val n = RangeJoin.pointInInterval(points, "pos", ivs, "s", "e", 10.0).count()
    assert(n == brute.size)
  }

  test("rangeJoin plan: equi-join on the bin (hash/broadcast), never a nested loop") {
    import spark.implicits._
    val points = spark.range(1000).select(col("id").as("pid"), (col("id") % 500).cast("double").as("pos"))
    val ivs = spark.range(20).select(col("id").as("iid"),
      (col("id") * 25).cast("double").as("s"), (col("id") * 25 + 40).cast("double").as("e"))
    val df = RangeJoin.pointInInterval(points, "pos", broadcast(ivs), "s", "e", 25.0)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), s"no hash join on the bin:\n$plan")
    assert(!plan.contains("NestedLoop"), s"nested loop leaked in:\n$plan")
  }
}
