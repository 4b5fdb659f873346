package graft.ops

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types.{ByteType, DataType, IntegerType, LongType,
  ShortType, StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** Distributed connected components over an undirected edge list —
  * the step that turns near-dup candidate PAIRS (minhash-LSH banding,
  * [[graft.dedup.MinHashLsh]]) into dedup CLUSTERS with a canonical
  * survivor per component, which is what a training-data pipeline
  * actually keeps.
  *
  * One path: the ids are keyed to longs where that is provably order-
  * preserving, a partition-local union-find contracts the edges to
  * stars on local minima, and the hub QUOTIENT of those stars is
  * solved on the driver when it is small, or by the distributed label
  * loop when it is not. Labels then expand back to every vertex and
  * decode to the caller's id type.
  *
  * Label loop: min-label propagation WITH POINTER JUMPING (the
  * hash-to-min family — Rastogi et al., "Finding Connected Components
  * in Map-Reduce in Logarithmic Rounds"). Every vertex starts labeled
  * with itself; each round a vertex takes the min over its own label,
  * its neighbors' labels (1-hop spread), and its LABEL'S label (the
  * pull half of pointer doubling), and PUSHES its improved label back
  * to the vertex it pointed at last round (the push half — without
  * it, mins cross between pointer-chain basins only via neighbor
  * edges at one hop per round; measured 17 rounds vs 11 at 2M docs).
  * Star-edge candidate graphs ([[graft.dedup.MinHashLsh.bandStarEdges]])
  * chain hub stars into components whose min-vertex eccentricity
  * exceeds 20 at 2M docs, where plain 1-hop propagation blew through
  * its round budget. A graph that still does not converge within
  * [[MaxIter]] rounds THROWS rather than silently returning split
  * components (a dedup pipeline acting on split clusters would keep
  * duplicates).
  *
  * Storage discipline: every round is truncated with a
  * `localCheckpoint` (persist()-based loops are fragile — downstream
  * re-references can miss cache substitution and replay the full edge
  * lineage). The per-round checkpoint is marked LAZILY and
  * materialized by the fixpoint probe's count, so a round costs one
  * driver-synchronized job, not two — the driver sync is the serial
  * fraction that caps multi-executor scaling of iterative stages. The
  * PREVIOUS round's block is freed as soon as the next one is
  * materialized ([[Bridge.freeLocalCheckpoint]] — plain
  * `unpersist()` cannot release checkpoint storage). The returned
  * labels keep only the final round's block — after forcing (or
  * persisting) the result, callers that loop (benchmarks, repeated
  * dedup passes) should release that block too with
  * `Bridge.freeLocalCheckpoint(result)`; it walks the derived plan
  * and unpersists the backing RDD.
  */
object ConnectedComponents {

  /** Label-loop round bound; exceeding it throws (see above). */
  private val MaxIter = 20

  /** Largest quotient (symmetrized, deduped edges) solved on the
    * driver instead of by the label loop. Packed long quotients
    * collect at 16 B/edge, so 8M edges is ~128 MB of driver heap;
    * measured at 8M docs the quotient is 2.9M edges (1.19M hubs) from
    * 5.1M raw star edges. See [[effectiveSolveCeiling]] for boxed
    * keys. */
  private val SolveMax = 8000000L

  /** @param vertices one row per vertex (isolated vertices become
    *                 singleton components). Defines the vertex set:
    *                 edges with an endpoint OUTSIDE it are ignored
    *                 (components are computed among `vertices` only),
    *                 at the one-time cost of two endpoint semi-joins.
    *                 Ids are bigint, int, smallint, tinyint or string.
    * @param vCol     vertex id column in `vertices`
    * @param edges    undirected edge list (any orientation, dups ok)
    * @param srcCol   edge endpoint column
    * @param dstCol   edge endpoint column
    * @return (node, lbl) — lbl is the component's min vertex id, both
    *         of the vertex column's type
    */
  def run(vertices: DataFrame, vCol: String, edges: DataFrame,
      srcCol: String, dstCol: String): DataFrame =
    runWith(vertices, vCol, edges, srcCol, dstCol, MaxIter, SolveMax)

  /** [[run]] with its round bound and driver-solve ceiling given, so a
    * spec can force the label loop (`solveMax = 0`) or its
    * non-convergence throw. */
  private[graft] def runWith(vertices: DataFrame, vCol: String,
      edges: DataFrame, srcCol: String, dstCol: String, maxIter: Int,
      solveMax: Long): DataFrame = {
    val vtype = vertices.schema(vCol).dataType
    val vset = vertices.select(col(vCol).as("node"))
    // ROW-WIDTH of the iterated state is what the loop pays for 10+
    // rounds of shuffle + checkpoint write + checkpoint re-read — on a
    // string-keyed corpus (16-char doc ids) every state row carries
    // three UTF8 strings where three longs would do, and at the larger
    // cluster size that traffic is exactly what saturates the shared
    // storage/memory bandwidth (BENCH.md round 5: the 2×4→4×4 collapse).
    // So ids are keyed ONCE to longs whose ORDER MATCHES the original
    // type's — integral ids by widening, fixed-shape string ids by the
    // numeric-suffix codec — and decoded at exit by narrow codegen'd
    // projections; min(id) ↔ min(key), so the min-label semantics are
    // unchanged. Only strings the codec cannot prove stay boxed.
    val t0 = System.nanoTime()
    val (enc, dec): (Column => Column, Column => Column) = vtype match {
      case LongType | IntegerType | ShortType | ByteType =>
        (_.cast(LongType), _.cast(vtype))
      case StringType =>
        numericSuffixCodec(vset).getOrElse((_.cast(StringType), c => c))
      case other => throw new IllegalArgumentException(
        s"connected components takes bigint, int, smallint, tinyint or " +
          s"string vertex ids; column '$vCol' is ${other.simpleString}")
    }
    val tCodec = System.nanoTime()
    // endpoint gating on the ORIENTED edges (half the semi-join input
    // of gating the symmetrized table); the dst-then-src order leaves
    // the join output hash-partitioned by src — star hubs co-located —
    // which is exactly the layout the contraction pass collapses best
    val keyed = edges
      .select(col(srcCol).as("src"), col(dstCol).as("dst"))
      .join(vset.withColumnRenamed("node", "dst"), Seq("dst"), "left_semi")
      .join(vset.withColumnRenamed("node", "src"), Seq("src"), "left_semi")
      .select(enc(col("src")).as("src"), enc(col("dst")).as("dst"))
    val keyedType = keyed.schema("src").dataType
    // ---- graph reduction: contraction to the hub QUOTIENT ----
    // One narrow partition-local union-find pass collapses each
    // partition's edges to (member → hub) stars on the partition-local
    // MIN, and the solve then runs on the tiny hub quotient graph (hubs
    // are connected iff they share a member) instead of the full edge
    // table: rounds touch thousands of hub rows, not millions of member
    // rows. Labels project back through ONE join against the
    // member→min-hub anchor map. Correctness: every edge lives in
    // exactly one partition, where its endpoints were unioned under one
    // hub; a vertex seen in k partitions bridges its k hubs (the
    // quotient edges); and the global component min is ALWAYS a hub —
    // it is the local min of its own local component in any partition
    // containing it — so min-label over the quotient equals min-label
    // over the original graph.
    // stars: lazy-checkpointed so the scan + LSH + contraction upstream
    // runs ONCE (materialized by the solve count or the loop-init job)
    // even though both `refs` consumers reference it
    val stars = Bridge.dropOriginStats(
      contractLocal(keyed).localCheckpoint(eager = false))
    // member rows plus hub self-rows: every endpoint appears with every
    // hub it touches (a hub is its own hub)
    val refs = stars.select(col("src").as("v"), col("dst").as("h"))
      .unionByName(stars.select(col("dst").as("v"), col("dst").as("h")))
    val anchor = Bridge.dropOriginStats(
      refs.groupBy(col("v")).agg(min(col("h")).as("mh"))
        .localCheckpoint(eager = false))
    val hubEdges = refs.join(anchor, Seq("v"))
      .select(col("mh").as("src"), col("h").as("dst"))
      .filter(col("src") =!= col("dst"))
    val symEdges = hubEdges
      .unionByName(hubEdges.select(col("dst").as("src"), col("src").as("dst")))
      .distinct()

    // ---- driver-side solve for small quotient graphs ----
    // zero rounds, zero per-round driver syncs: the quotient shrinks
    // with the square of contraction locality, so even very large
    // corpora typically end with a driver-sized residual
    val ceiling = effectiveSolveCeiling(keyedType, solveMax)
    val sess = vertices.sparkSession
    // full count first: it materializes the stars/anchor lazy
    // checkpoints COMPLETELY (a limit-collect could stop after a
    // partial partition and leave their blocks half-stored)
    val cnt = if (ceiling > 0) symEdges.count() else Long.MaxValue
    val labels: DataFrame = if (cnt <= ceiling) {
      val tCnt = System.nanoTime()
      val pairs = driverSolve(symEdges)
      val schema = StructType(Seq(
        StructField("node", keyedType, nullable = false),
        StructField("lbl", keyedType, nullable = false)))
      // hand the label table back as a small RDD, not a LocalRelation:
      // Row building and InternalRow conversion for ~10^6 labels is
      // single-threaded driver time (a pure serial term both cluster
      // sizes pay equally), whereas the parallelized form builds rows
      // on executors and AQE broadcast-converts the expansion join from
      // the RUNTIME shuffle size of this small side
      val slices = math.max(1, math.min(16, pairs.length / 100000))
      val rowRdd = sess.sparkContext.parallelize(pairs.toSeq, slices)
        .map { case (v, m) => Row(v, m) }
      System.err.println(s"[graft.cc] localSolve=true quotientEdges=$cnt " +
        s"labels=${pairs.length} codecMs=${ms(t0, tCodec)} " +
        s"setupMs=${ms(tCodec, tCnt)} solveMs=${ms(tCnt, System.nanoTime())}")
      sess.createDataFrame(rowRdd, schema)
    } else {
      // the loop re-plans a new QueryExecution per round; AQE turns each
      // round's 2-3 exchanges into SEQUENTIAL query-stage
      // materializations with a driver sync between every one — pure
      // serial overhead when the loop's shuffle partitioning is already
      // explicitly sized (labels are narrow and uniform; nothing here
      // benefits from runtime re-planning). Disabled for the LOOP only —
      // the setup (gating semi-joins, contraction, quotient build,
      // count) and the expansion join after it are ordinary one-shot
      // plans that DO benefit from AQE's coalescing and runtime
      // broadcast decisions (measured ~35% off q62's setup at sf0.1) —
      // and the caller's setting is restored on every exit path.
      val aqeKey = "spark.sql.adaptive.enabled"
      val aqePrev = sess.conf.getOption(aqeKey)
      sess.conf.set(aqeKey, "false")
      try labelLoop(symEdges, maxIter, t0, tCodec)
      catch { case e: IllegalStateException =>
        // a failed solve would otherwise leave the anchor and stars
        // blocks behind (callers that swallow the throw — best-of-N
        // benches — would leak MEMORY_AND_DISK blocks per attempt)
        Bridge.freeLocalCheckpoint(anchor)
        Bridge.freeLocalCheckpoint(stars)
        throw e
      } finally aqePrev match {
        case Some(v) => sess.conf.set(aqeKey, v)
        case None => sess.conf.unset(aqeKey)
      }
    }
    // the stars checkpoint only feeds the anchor/hub-edge derivation,
    // both materialized (anchor into its own checkpoint) by the solve
    // count or the loop-init job — dead weight from here on
    Bridge.freeLocalCheckpoint(stars)
    // expand hub labels to every endpoint through the anchor map (one
    // join; hubs without quotient edges keep their own id via the
    // coalesce — a single-star hub converges to itself), then decode
    // the keys back to the caller's vertex values
    val labelsOut = anchor
      .join(labels.withColumnRenamed("node", "mh"), Seq("mh"), "left")
      .select(dec(col("v")).as("node"),
        dec(coalesce(col("lbl"), col("mh"))).as("lbl"))
    // vertices outside every edge are their own components
    val untouched = vset
      .join(labelsOut.select(col("node")), Seq("node"), "left_anti")
      .withColumn("lbl", col("node"))
    labelsOut.unionByName(untouched)
  }

  /** The distributed label loop over the symmetrized quotient edges;
    * returns (node, lbl) for every quotient vertex, or frees its last
    * round and throws when `maxIter` rounds do not reach the fixpoint. */
  private def labelLoop(symEdges: DataFrame, maxIter: Int, t0: Long,
      tCodec: Long): DataFrame = {
    val sym = symEdges
      // co-locate the STATIC side of the per-round neighbor join ONCE:
      // distinct() leaves sym hash-partitioned by (src, dst), which the
      // join on src cannot reuse — without this, every round re-shuffles
      // the whole edge table (the largest per-round input) and pays that
      // exchange's stage barrier. The cached InMemoryRelation preserves
      // hashpartitioning(src), so each round only exchanges the labels.
      .repartition(col("src"))
      .persist() // cache-managed: the final result's lineage is
                 // checkpoint-backed, so this is safe to free below
    // every checkpoint is rebuilt WITHOUT origin statistics
    // (Bridge.dropOriginStats): the round plan self-joins the previous
    // checkpoint several times, and Catalyst's join size estimate
    // multiplies child sizes — with propagated stats the estimate
    // compounds exponentially across rounds until the driver spends
    // minutes in BigInteger math during planning (measured hang at 2M
    // docs)
    var prevCheckpoint = sym.select(col("src").as("node")).distinct()
      .withColumn("lbl", col("node"))
      .withColumn("prev", col("node"))
      .localCheckpoint()
    var state = Bridge.dropOriginStats(prevCheckpoint)
    var labels = state.select(col("node"), col("lbl"))

    val tInit = System.nanoTime() // init checkpoint materialized setup
    var iter = 0
    var converged = false
    while (iter < maxIter && !converged) {
      val viaNeighbors = sym
        .join(labels, sym("src") === labels("node"))
        .select(col("dst").as("node"), col("lbl"), lit(0).as("own"))
      // pointer jump: my label's label (pointer doubling). Label
      // chasing is monotone (a vertex's label never exceeds its id, so
      // l(l(x)) ≤ l(x)), so the jump alone can stand in for the label.
      val viaJump = labels
        .join(labels.select(col("node").as("_j"), col("lbl").as("_l")),
          col("lbl") === col("_j"))
        .select(col("node"), col("_l").as("lbl"), lit(0).as("own"))
      // PUSH (hash-to-min's second half): pulling down the pointer
      // chain alone leaves "local minimum" basins that a component min
      // can only cross via neighbor edges at ONE hop per round. Each
      // vertex therefore also SENDS its improved label UP to the vertex
      // it pointed at last round, and the jump spreads it back down —
      // the two-way flow that makes hash-to-min logarithmic (Rastogi et
      // al. §3). The checkpoint already carries last round's label as
      // `prev`, so the push is a projection of state the round already
      // has: zero joins, just |V| extra rows riding the aggregate.
      val viaPush = state
        .select(col("prev").as("node"), col("lbl"), lit(0).as("own"))
      // the vertex's previous label rides along as `own=1`, so the SAME
      // aggregate yields both the new label and the fixpoint signal —
      // no extra probe join/shuffle per round
      val next = labels.select(col("node"), col("lbl"), lit(1).as("own"))
        .unionByName(viaNeighbors)
        .unionByName(viaJump)
        .unionByName(viaPush)
        .groupBy(col("node"))
        .agg(min(col("lbl")).as("lbl"),
          min(when(col("own") === 1, col("lbl"))).as("prev"))
        // LAZY checkpoint: the fixpoint probe below is the materializing
        // action, so each round schedules ONE driver-synchronized job
        // instead of two (eager materialization + probe). The probe must
        // be a full count — isEmpty is a take(1) that can stop after one
        // partition and would leave the checkpoint partially stored.
        .localCheckpoint(eager = false)
      val nextClean = Bridge.dropOriginStats(next)
      iter += 1
      converged = nextClean.filter(col("lbl") =!= col("prev")).count() == 0L
      // only after the probe stored this round is the previous one
      // safe to drop
      Bridge.freeLocalCheckpoint(prevCheckpoint)
      prevCheckpoint = next
      state = nextClean
      labels = nextClean.select(col("node"), col("lbl"))
    }
    sym.unpersist(blocking = false)
    // rounds are the serial axis of this operator; phase split for
    // scaling diagnostics: codec probe / setup (scan + LSH +
    // contraction + edge cache + init checkpoint) / the loop itself
    val tLoop = System.nanoTime()
    System.err.println(s"[graft.cc] converged=$converged rounds=$iter " +
      s"codecMs=${ms(t0, tCodec)} setupMs=${ms(tCodec, tInit)} loopMs=${ms(tInit, tLoop)}")
    if (!converged) {
      Bridge.freeLocalCheckpoint(prevCheckpoint)
      throw new IllegalStateException(
        s"connected components did not converge within $maxIter rounds — " +
          "the graph has a component whose min-vertex eccentricity exceeds " +
          "the bound (silently returning split clusters would make a " +
          "dedup pipeline keep duplicates)")
    }
    labels
  }

  private def ms(a: Long, b: Long): Long = (b - a) / 1000000L

  /** The driver-solve ceiling actually applied for a keyed type:
    * long-keyed quotients collect PACKED (16 B/edge) and get the full
    * ceiling; boxed string keys collect as Rows at ~10× the footprint
    * and get 1/8 of it (so sub-8 values disable the solve entirely for
    * boxed keys). */
  private[graft] def effectiveSolveCeiling(keyedType: DataType,
      solveMax: Long): Long =
    if (keyedType == LongType) solveMax else solveMax / 8

  /** Order-preserving string↔long codec for vertex ids of the shape
    * `<common-prefix><fixed-width-digits>` — proven, not assumed: one
    * map-side-combined aggregate over the FULL vertex set checks that
    * every id matches the pattern with a single shared prefix and a
    * single total length (⇒ a single digit width ≤ 18). Under those
    * facts `substring→cast(long)` is injective and ORDER-preserving
    * (equal-length strings with a common prefix compare by their digit
    * suffix, which compares numerically when widths are equal), and
    * `concat(prefix, lpad(…))` inverts it exactly. Returns None when
    * any row breaks the shape — the ids then stay boxed strings. */
  private[graft] def numericSuffixCodec(vset: DataFrame)
      : Option[(Column => Column, Column => Column)] = {
    val pat = "^(.*?)([0-9]{1,18})$"
    val pfx = regexp_extract(col("node"), pat, 1)
    val row = vset.agg(
      count(lit(1)).as("n"),
      sum(when(col("node").rlike(pat), 1L).otherwise(0L)).as("m"),
      min(pfx).as("p0"), max(pfx).as("p1"),
      min(length(col("node"))).as("l0"), max(length(col("node"))).as("l1"))
      .collect()(0)
    val n = row.getLong(0)
    if (n == 0L || row.isNullAt(1) || row.getLong(1) != n) return None
    val (p0, p1) = (row.getString(2), row.getString(3))
    val (l0, l1) = (row.getInt(4), row.getInt(5))
    if (p0 != p1 || l0 != l1) return None
    val width = l0 - p0.length
    if (width < 1 || width > 18) return None
    Some((
      (c: Column) => substring(c, p0.length + 1, width).cast(LongType),
      (c: Column) => concat(lit(p0), lpad(c.cast(StringType), width, "0"))))
  }

  /** One driver pass of union-find over a collected quotient edge
    * table; returns (vertex, componentMin) for every NON-ROOT vertex —
    * roots label themselves, which the expansion join's coalesce
    * supplies without a row. */
  private[graft] def driverSolve(e: DataFrame): Array[(Any, Any)] =
    if (e.schema.head.dataType == LongType) {
      // packed collect: one primitive long array per partition instead
      // of millions of boxed Rows — the transient driver footprint is
      // 16 bytes/edge, not ~10× that
      val packed = e.rdd.mapPartitions { it =>
        val buf = new scala.collection.mutable.ArrayBuilder.ofLong
        it.foreach { r =>
          if (!r.isNullAt(0) && !r.isNullAt(1)) {
            buf += r.getLong(0); buf += r.getLong(1)
          }
        }
        Iterator(buf.result())
      }.collect()
      val uf = new LongUnionFind(1 << 12)
      packed.foreach { arr =>
        var i = 0
        while (i < arr.length) { uf.union(arr(i), arr(i + 1)); i += 2 }
      }
      uf.starEdges.map { case (v, m) => (v: Any, m: Any) }.toArray
    } else stringStarEdges(e.collect().iterator).toArray

  /** Partition-local union-find contraction (the "local aggregation"
    * trick of the MapReduce-CC literature): within each partition,
    * union every edge's endpoints, then emit one (member → local
    * component MIN) star edge per non-min member. Narrow (zero
    * shuffle), one pass, memory bounded by the partition's distinct
    * endpoint count; output is at most the partition's distinct
    * endpoints, and far fewer edges than the input on bucket-clustered
    * candidate graphs. Long endpoints (integral and codec ids) use the
    * primitive [[LongUnionFind]]; strings the boxed twin. */
  private[graft] def contractLocal(e: DataFrame): DataFrame = {
    val packed = e.schema.head.dataType == LongType
    val rows = e.rdd.mapPartitions { it =>
      val stars: Iterator[(Any, Any)] = if (packed) {
        val uf = new LongUnionFind(1 << 12)
        it.foreach { r =>
          if (!r.isNullAt(0) && !r.isNullAt(1))
            uf.union(r.getLong(0), r.getLong(1))
        }
        uf.starEdges
      } else stringStarEdges(it)
      stars.map { case (v, m) => Row(v, m) }
    }
    e.sparkSession.createDataFrame(rows, e.schema)
  }

  /** Boxed union-find over string endpoint rows (the ids the
    * numeric-suffix codec cannot pack): path-halving find, min-root
    * union, so every root is its component's MIN member — in Spark's
    * string order (UTF-8 bytes), which the anchor and the label loop
    * take their minima in; Java's UTF-16 `compareTo` puts surrogate
    * pairs below U+E000–U+FFFF and would make the solve disagree with
    * the loop. Returns (member, componentMin) for every non-root
    * member. */
  private def stringStarEdges(rows: Iterator[Row]): Iterator[(Any, Any)] = {
    val parent = new java.util.HashMap[String, String]()
    def find(x0: String): String = {
      var x = x0
      var p = parent.putIfAbsent(x, x)
      if (p == null) return x
      while (p != x) {
        val gp = parent.get(p)
        parent.put(x, gp) // path halving
        x = gp
        p = parent.get(x)
      }
      x
    }
    rows.foreach { r =>
      if (!r.isNullAt(0) && !r.isNullAt(1)) {
        val ra = find(r.getString(0))
        val rb = find(r.getString(1))
        val c = UTF8String.fromString(ra).compareTo(UTF8String.fromString(rb))
        if (c < 0) parent.put(rb, ra) else if (c > 0) parent.put(ra, rb)
      }
    }
    parent.keySet().toArray(new Array[String](0)).iterator
      .map(v => (v, find(v)))
      .filter { case (v, m) => v != m }
  }

  /** Open-addressing long→long union-find (linear probing, power-of-2
    * capacity, grow at 2/3 load; path-halving find; representative =
    * component MIN member, maintained eagerly on union so no second
    * pass is needed). Every long is a legal id: occupied slots are
    * marked in `used`, not by a sentinel key. Single-threaded,
    * per-partition scratch. */
  private[graft] final class LongUnionFind(initialCapacity: Int) {
    private var cap = Integer.highestOneBit(math.max(initialCapacity, 16)) * 2
    private var used = new Array[Boolean](cap)
    private var keys = new Array[Long](cap)
    private var vals = new Array[Long](cap)
    private var size = 0

    private def slot(k: Long): Int = {
      // finalizer from splitmix64 — good avalanche for sequential ids
      var h = k * 0x9E3779B97F4A7C15L
      h ^= (h >>> 32)
      var i = (h & (cap - 1)).toInt
      while (used(i) && keys(i) != k) i = (i + 1) & (cap - 1)
      i
    }

    private def grow(): Unit = {
      val ou = used; val ok = keys; val ov = vals
      cap <<= 1
      used = new Array[Boolean](cap)
      keys = new Array[Long](cap)
      vals = new Array[Long](cap)
      var i = 0
      while (i < ok.length) {
        if (ou(i)) {
          val j = slot(ok(i)); used(j) = true; keys(j) = ok(i); vals(j) = ov(i)
        }
        i += 1
      }
    }

    /** parent lookup, inserting x as its own root on first sight */
    private def getOrInsert(x: Long): Long = {
      val i = slot(x)
      if (!used(i)) {
        if ((size + 1) * 3 > cap * 2) { grow(); return getOrInsert(x) }
        used(i) = true; keys(i) = x; vals(i) = x; size += 1
        x
      } else vals(i)
    }

    private def find(x0: Long): Long = {
      var x = x0
      var p = getOrInsert(x)
      while (p != x) {
        val gp = vals(slot(p))
        vals(slot(x)) = gp // path halving
        x = gp
        p = vals(slot(x))
      }
      x
    }

    def union(a: Long, b: Long): Unit = {
      val ra = find(a)
      val rb = find(b)
      // min-root union: the surviving root IS the component minimum,
      // because every inserted vertex >= its root at all times
      if (ra < rb) vals(slot(rb)) = ra
      else if (rb < ra) vals(slot(ra)) = rb
    }

    /** (member, componentMin) for every non-root member */
    def starEdges: Iterator[(Long, Long)] = {
      val us = used; val ks = keys
      us.indices.iterator
        .filter(i => us(i))
        .map(i => (ks(i), find(ks(i))))
        .filter { case (v, m) => v != m }
    }
  }
}
