package graft.analytics

import graft.{SparkEntry, SparkSpec}
import graft.functions.ZOrder
import org.apache.spark.sql.functions._

/** Statistical/structural wave: triangle census, skyline, MAD outliers,
  * equi-depth histogram, trend regression, z-order layout. The DuckDB
  * oracles prove cross-engine agreement on the harness tables; these
  * specs prove the SEMANTICS against independent in-process
  * reimplementations (brute-force triangle count, Scala quantile math)
  * and pin the properties the oracles can't see (the z-curve's
  * both-dimension skipping effect).
  */
class StatsSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"
  import scala.jdk.CollectionConverters._

  private def edgeDf(pairs: Seq[(Long, Long)]) = {
    val rows = pairs.map { case (a, b) => org.apache.spark.sql.Row(a, b) }
    spark.createDataFrame(rows.asJava,
      org.apache.spark.sql.types.StructType.fromDDL("a BIGINT, b BIGINT"))
  }

  test("Triangles.census counts a planted K4-plus-path exactly") {
    // K4 on {1,2,3,4} = 4 triangles; path 5-6-7 and pendant 8 add none.
    // Input includes duplicates and both orientations — canonicalization
    // must absorb them.
    val k4 = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L))
    val noise = Seq((5L, 6L), (6L, 7L), (7L, 8L), (2L, 1L), (3L, 1L), (1L, 2L))
    val r = graft.ops.Triangles.census(edgeDf(k4 ++ noise), "a", "b").collect()(0)
    assert((r.getLong(0), r.getLong(1), r.getLong(2)) === ((8L, 9L, 4L)))
  }

  test("Triangles.perNode: K4 corners carry 3 triangles each, path nodes 0") {
    val k4 = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L))
    val noise = Seq((5L, 6L), (6L, 7L))
    val got = graft.ops.Triangles.perNode(edgeDf(k4 ++ noise), "a", "b")
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2))))
      .toMap
    assert((1L to 4L).forall(got(_) == ((3L, 3L))), got)
    assert(got(5L) === ((1L, 0L)) && got(6L) === ((2L, 0L)))
  }

  test("Triangles.perNode sums to 3x the census count on a random graph") {
    val rnd = new scala.util.Random(7)
    val n = 25
    val edges = (for {
      i <- 0 until n; j <- (i + 1) until n if rnd.nextDouble() < 0.25
    } yield (i.toLong, j.toLong)).toSeq
    val census = graft.ops.Triangles.census(edgeDf(edges), "a", "b")
      .collect()(0)
    val pn = graft.ops.Triangles.perNode(edgeDf(edges), "a", "b").collect()
    assert(pn.map(_.getLong(2)).sum === 3 * census.getLong(2))
    assert(pn.map(_.getLong(1)).sum === 2 * census.getLong(1))
  }

  test("HyperBall 2-hop KMV ball sizes are exact below the sketch width") {
    val rnd = new scala.util.Random(11)
    val n = 40
    val edges = (for {
      i <- 0 until n; j <- (i + 1) until n if rnd.nextDouble() < 0.15
    } yield (i.toLong, j.toLong)).toSeq
    val adj = scala.collection.mutable.Map[Long, Set[Long]]()
      .withDefaultValue(Set.empty)
    edges.foreach { case (a, b) => adj(a) += b; adj(b) += a }
    val nodes = adj.keySet.toSet
    def ball2(v: Long): Set[Long] = adj(v).flatMap(adj) ++ adj(v) + v
    val got = graft.ops.HyperBall
      .twoHopBallSizes(edgeDf(edges), "a", "b", k = 256)
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(got.keySet === nodes)
    assert(nodes.forall(v => got(v) == ball2(v).size.toLong),
      nodes.map(v => (v, got(v), ball2(v).size)).filter(t => t._2 != t._3))
  }

  test("HyperBall: self-loop-only nodes own ball {self}, loops never inflate") {
    // node 9's only edge is (9,9): it must appear with ball size 1, not
    // vanish; node 1's self-loop must not change its ball
    val got = graft.ops.HyperBall
      .twoHopBallSizes(edgeDf(Seq((1L, 2L), (2L, 3L), (1L, 1L), (9L, 9L))),
        "a", "b", k = 256)
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(got === Map(1L -> 3L, 2L -> 3L, 3L -> 3L, 9L -> 1L))
  }

  test("every graph operator evaluates the caller's edge build once per query") {
    // each operator stages its canonical edge list (ops.Edges.canonical)
    // before any other consumer reads it, so the (potentially expensive)
    // edge-BUILDING subplan upstream is evaluated exactly once no matter
    // how many actions the loop rounds run (r15: the HyperBall nodes
    // derivation + per-round checkpoints re-planned it 2-3x per query —
    // 25-40% of the hyperball queries' cpu at sf0.1)
    import graft.ops._
    import spark.implicits._
    val seeds = Seq(1L).toDF("node")
    val ops = Seq[(String, (org.apache.spark.sql.DataFrame =>
        org.apache.spark.sql.DataFrame))](
      "PageRank.ranks" -> (PageRank.ranks(_, "a", "b")),
      "PageRank.personalizedRanks" ->
        (PageRank.personalizedRanks(_, "a", "b", seeds)),
      "ConnectedComponents.components" ->
        (ConnectedComponents.components(_, "a", "b")),
      "ConnectedComponents.componentsStar" ->
        (ConnectedComponents.componentsStar(_, "a", "b")),
      "Triangles.census" -> (Triangles.census(_, "a", "b")),
      "Triangles.perNode" -> (Triangles.perNode(_, "a", "b")),
      "HyperBall.twoHopBallSizes" ->
        (HyperBall.twoHopBallSizes(_, "a", "b", k = 16)),
      "HyperBall.ballSizes3" -> (HyperBall.ballSizes3(_, "a", "b", k = 16)),
      "HyperBall.neighborhoodFunction" ->
        (HyperBall.neighborhoodFunction(_, "a", "b", k = 16, maxR = 8)))
    val evals = ops.map { case (name, op) =>
      val acc = spark.sparkContext.longAccumulator(s"edgeEvals:$name")
      val tick = udf((x: Long) => { acc.add(1L); x })
      val edges = edgeDf(Seq((1L, 2L), (2L, 3L), (3L, 4L), (1L, 4L)))
        .select(tick(col("a")).as("a"), col("b"))
      op(edges).collect()
      name -> acc.value.longValue
    }
    assert(evals.filter(_._2 != 4L) === Seq.empty, evals)
  }

  test("HyperBall.neighborhoodFunction == brute BFS + estimator, both regimes") {
    val rnd = new scala.util.Random(19)
    val n = 30
    val edges = (for {
      i <- 0 until n; j <- (i + 1) until n if rnd.nextDouble() < 0.08
    } yield (i.toLong, j.toLong)).toSeq
    val adj = scala.collection.mutable.Map[Long, Set[Long]]()
      .withDefaultValue(Set.empty)
    edges.foreach { case (a, b) => adj(a) += b; adj(b) += a }
    val nodes = adj.keySet.toSet
    // exact BFS distances, then ball_r(v) = {w : d(v,w) <= r}
    def dists(src: Long): Map[Long, Int] = {
      var d = Map(src -> 0)
      var frontier = Set(src)
      var r = 0
      while (frontier.nonEmpty) {
        r += 1
        frontier = frontier.flatMap(adj).diff(d.keySet)
        d ++= frontier.map(_ -> r)
      }
      d
    }
    val dist = nodes.map(v => v -> dists(v)).toMap
    def estFloor(s: Set[Long], k: Int): Long = {
      val hs = s.toSeq.map(w => graft.llm.Hashing.md5Uniform60(w.toString))
        .distinct.sorted
      if (hs.size < k) hs.size.toLong
      else math.floor(
        (k - 1).toDouble / (hs(k - 1).toDouble / math.pow(2, 60))).toLong
    }
    // independent reimplementation of the table + the milli interpolation
    def expected(k: Int, maxR: Int): (Seq[(Long, Long)], Long) = {
      def nAt(r: Int): Long = nodes.toSeq
        .map(v => estFloor(dist(v).filter(_._2 <= r).keySet, k)).sum
      var ns = Vector(nodes.size.toLong, nAt(1))
      var r = 1
      while (r < maxR && ns(r) != ns(r - 1)) { r += 1; ns = ns :+ nAt(r) }
      val t = (9L * ns.last + 9L) / 10L
      val rh = ns.indexWhere(_ >= t)
      val d =
        if (rh <= 0) 0L
        else (rh - 1) * 1000L + (t - ns(rh - 1)) * 1000L / (ns(rh) - ns(rh - 1))
      (ns.zipWithIndex.map { case (v, i) => (i.toLong, v) }, d)
    }
    // k=256 > n: exact regime (the table IS exact reach counts);
    // k=8 << ball sizes: estimator regime — still EXACTLY reproducible
    // because the iterated bounded merge equals the k-minima of the
    // exact ball (the KMV merge theorem), which is the oracle contract
    Seq(256, 8).foreach { k =>
      val got = graft.ops.HyperBall
        .neighborhoodFunction(edgeDf(edges), "a", "b", k = k, maxR = 8)
        .collect().sortBy(_.getLong(0))
      val (expRows, expD) = expected(k, 8)
      assert(got.map(r => (r.getLong(0), r.getLong(1))).toSeq === expRows,
        s"k=$k")
      assert(got.map(_.getLong(2)).distinct.toSeq === Seq(expD), s"k=$k")
    }
  }

  test("Triangles: string-typed numeric ids canonicalize numerically, not lexically") {
    import spark.implicits._
    // ("9","10") ordered lexicographically gives least="10" > greatest="9"
    // after the cast — the old cast-after-least dropped such edges
    val edges = Seq(("9", "10"), ("10", "11"), ("11", "9"))
      .toDF("a", "b")
    val c = graft.ops.Triangles.census(edges, "a", "b").collect()(0)
    assert(c.getLong(1) === 3L) // n_edges: no edge dropped
    assert(c.getLong(2) === 1L) // the triangle survives
  }

  test("Triangles.census matches brute force on a seeded random graph") {
    val rnd = new scala.util.Random(42)
    val n = 30
    val edges = (for {
      i <- 0 until n; j <- (i + 1) until n if rnd.nextDouble() < 0.2
    } yield (i.toLong, j.toLong)).toSeq
    val adj = edges.toSet
    val brute = (for {
      i <- 0 until n; j <- (i + 1) until n if adj((i.toLong, j.toLong))
      k <- (j + 1) until n
      if adj((j.toLong, k.toLong)) && adj((i.toLong, k.toLong))
    } yield 1).size.toLong
    val r = graft.ops.Triangles.census(edgeDf(edges), "a", "b").collect()(0)
    assert(r.getLong(2) === brute)
    assert(r.getLong(1) === edges.size.toLong)
  }

  test("Triangles.census broadcast gate: above-threshold plans shuffle joins, same census") {
    // the gate must be CODE, not a comment: with broadcastEdgeLimit = 0
    // every edge list is "too big", the hints drop, and (with the auto
    // threshold disabled so AQE can't silently re-broadcast the tiny test
    // frame) the wedge/closing joins surface as shuffle joins — while the
    // census stays identical to the broadcast mode's.
    val k4 = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L))
    val noise = Seq((5L, 6L), (6L, 7L), (7L, 8L))
    val edges = edgeDf(k4 ++ noise)
    val bc = graft.ops.Triangles.census(edges, "a", "b").collect()(0)
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val df = graft.ops.Triangles.census(edges, "a", "b", broadcastEdgeLimit = 0L)
      df.collect() // finalize AQE so the real join strategies are visible
      val plan = df.queryExecution.executedPlan match {
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
          a.executedPlan
        case p => p
      }
      val s = plan.toString
      assert(!s.contains("BroadcastHashJoin"),
        s"gated census must not broadcast:\n$s")
      assert(s.contains("SortMergeJoin") || s.contains("ShuffledHashJoin"),
        s"expected shuffle joins above the gate:\n$s")
      val sh = df.collect()(0)
      assert((sh.getLong(0), sh.getLong(1), sh.getLong(2)) ===
        ((bc.getLong(0), bc.getLong(1), bc.getLong(2))))
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("pareto_frontier_parts equals an independent skyline sweep") {
    val got = SparkEntry.queries("pareto_frontier_parts")(spark, sf)
      .collect().map(r => (r.getInt(0), r.getDouble(1), r.getLong(2)))
    val pts = graft.Tables.part(spark, sf)
      .select(col("p_size"), col("p_retailprice")).collect()
      .map(r => (r.getInt(0), r.getDouble(1)))
      .groupBy(_._1)
      .map { case (s, vs) => (s, vs.map(_._2).min, vs.size.toLong) }
      .toSeq
    val expected = pts.filter { case (s, mp, _) =>
      !pts.exists { case (s2, mp2, _) => s2 > s && mp2 <= mp }
    }.map { case (s, mp, n) =>
      (s, BigDecimal(mp).setScale(2, BigDecimal.RoundingMode.HALF_UP).toDouble, n)
    }.sortBy(_._1)
    assert(got.toSeq === expected)
    // along the frontier price strictly INCREASES with size — anything
    // cheaper at a larger size would have dominated the smaller point
    assert(got.map(_._2).toSeq === got.map(_._2).toSeq.sorted)
    assert(got.map(_._2).distinct.length === got.length)
  }

  /** Linear interpolation percentile (quantile_cont convention). */
  private def pct(sorted: Array[Double], q: Double): Double = {
    val pos = q * (sorted.length - 1)
    val lo = pos.toInt
    val g = pos - lo
    if (g == 0) sorted(lo) else sorted(lo) * (1 - g) + sorted(lo + 1) * g
  }

  test("dq_mad_outliers matches Scala median/MAD arithmetic and finds the tail") {
    val r = SparkEntry.queries("dq_mad_outliers")(spark, sf).collect()(0)
    val values = graft.Tables.events(spark, sf)
      .filter(col("value").isNotNull)
      .select(col("value")).collect().map(_.getDouble(0))
    val cents = values.map(p => math.round(p * 100).toDouble).sorted
    val m2 = 2 * pct(cents, 0.5)
    val dev2 = cents.map(c => math.abs(2 * c - m2)).sorted
    val mad4 = 2 * pct(dev2, 0.5)
    val nOut = dev2.count(d2 => 2 * d2 > 3 * mad4).toLong
    assert(r.getLong(0) === nOut)
    assert(r.getDouble(3) ===
      BigDecimal(m2 / 200.0).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble)
    assert(nOut > 0) // event values really are heavy-tailed
    assert(r.getDouble(2) > r.getDouble(3)) // max outlier beyond the median
  }

  test("agg_equidepth_hist_price matches Scala quantile bucketing") {
    val rows = SparkEntry.queries("agg_equidepth_hist_price")(spark, sf)
      .collect().map(r => (r.getInt(0), r.getLong(1)))
    val prices = graft.Tables.orders(spark, sf)
      .select(col("o_totalprice")).collect().map(_.getDouble(0))
    val sorted = prices.sorted
    val bounds = (1 to 9).map(i => pct(sorted, i / 10.0))
    val expected = prices.groupBy(v => 1 + bounds.count(v > _))
      .map { case (b, vs) => (b, vs.size.toLong) }.toSeq.sorted
    assert(rows.toSeq.sorted === expected)
    assert(rows.map(_._2).sum === prices.length.toLong)
  }

  test("stats_linear_trend slope is consistent with its sufficient stats") {
    val r = SparkEntry.queries("stats_linear_trend")(spark, sf).collect()(0)
    val (n, sx, sy, sxy, sxx) =
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))
    val slope = (n.toDouble * sxy.toDouble - sx.toDouble * sy.toDouble) /
      (n.toDouble * sxx.toDouble - sx.toDouble * sx.toDouble)
    assert(r.getDouble(5) ===
      BigDecimal(slope).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
    assert(n > 100) // every fixture day groups to one x
  }

  test("window_value_functions matches a Scala fold per user") {
    val got = SparkEntry.queries("window_value_functions")(spark, sf)
      .collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2),
        Option(r.get(3)).map(_.asInstanceOf[Long]),
        r.getString(4), r.getString(5)))
      .toMap
    val raw = graft.Tables.events(spark, sf)
      .selectExpr("user_id", "unix_micros(ts) AS us", "event_id",
        "event_type", "value")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3),
        Option(r.get(4)).map(_.asInstanceOf[Double])))
    val expected = raw.groupBy(_._1).map { case (u, evs) =>
      val sorted = evs.sortBy(e => (e._2, e._3)).toSeq
      val vals = sorted.map(_._5)
      val nAsc = vals.sliding(2).count {
        case Seq(Some(a), Some(b)) => b > a
        case _ => false
      }
      val gaps = sorted.map(_._2).sliding(2).collect {
        case Seq(a, b) => b - a }.toSeq
      u -> ((sorted.size.toLong, nAsc.toLong,
        if (gaps.isEmpty) None else Some(gaps.max),
        sorted.head._4, sorted.last._4))
    }
    assert(got === expected)
  }

  test("agg_rolling_7d_distinct_users equals trailing-window recount") {
    val got = SparkEntry.queries("agg_rolling_7d_distinct_users")(spark, sf)
      .collect().map(r => (r.getDate(0).toLocalDate, r.getLong(1)))
    val ud = graft.Tables.events(spark, sf)
      .selectExpr("user_id", "CAST(ts AS DATE) AS day").distinct()
      .collect().map(r => (r.getLong(0), r.getDate(1).toLocalDate))
    for ((day, wau) <- got) {
      val recount = ud.filter { case (_, d) =>
        !d.isAfter(day) && !d.isBefore(day.minusDays(6))
      }.map(_._1).distinct.length.toLong
      assert(wau === recount, s"day $day")
    }
    // every day in the output has at least one active user, and the
    // output covers min..max+6 of active days exactly
    assert(got.forall(_._2 > 0))
    assert(got.map(_._1).max === ud.map(_._2).max(Ordering.by((d: java.time.LocalDate) => d.toEpochDay)).plusDays(6))
  }

  test("agg_group_quantiles_value returns the k-th order statistics") {
    val got = SparkEntry.queries("agg_group_quantiles_value")(spark, sf)
      .collect()
      .map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5)))
      .toMap
    val base = graft.Tables.events(spark, sf)
      .filter(col("value").isNotNull)
      .selectExpr("event_type", "CAST(round(value*100) AS LONG) AS c")
      .collect().map(r => (r.getString(0), r.getLong(1)))
    val expected = base.groupBy(_._1).map { case (et, vs) =>
      val sorted = vs.map(_._2).sorted
      def kth(q: Double) = sorted(math.ceil(q * sorted.length).toInt - 1)
      et -> (sorted.length.toLong, kth(0.5), kth(0.9), kth(0.95), kth(0.99))
    }
    assert(got === expected)
  }

  test("dq_benford_first_digit shares sum to ~10000bp and digits are exact") {
    val rows = SparkEntry.queries("dq_benford_first_digit")(spark, sf)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    val prices = graft.Tables.orders(spark, sf)
      .select(col("o_totalprice")).collect().map(_.getDouble(0))
    val digits = prices.map(p =>
      math.round(p * 100).toString.head.asDigit.toLong)
    val expected = digits.groupBy(identity).view.mapValues(_.length.toLong).toMap
    assert(rows.map(r => r._1 -> r._2).toMap === expected)
    assert(rows.map(_._2).sum === prices.length.toLong)
    // integer-division shares: within 9bp of the whole by construction
    val bpSum = rows.map(_._3).sum
    assert(bpSum > 9990 && bpSum <= 10000)
    // the benford table is the inlined public constant set
    assert(rows.map(r => r._1 -> r._4).toMap ===
      Map(1L -> 3010L, 2L -> 1760L, 3L -> 1249L, 4L -> 969L, 5L -> 791L,
        6L -> 669L, 7L -> 579L, 8L -> 511L, 9L -> 457L).filter {
        case (d, _) => expected.contains(d) })
  }

  test("zValue interleaves bits (x odd positions, y even)") {
    val df = spark.range(1).select(
      ZOrder.zValue(lit(3), lit(5), 3).as("a"),   // x=011,y=101 → 0b011011+?
      ZOrder.zValue(lit(1), lit(0), 8).as("b"),   // → 2
      ZOrder.zValue(lit(0), lit(1), 8).as("c"),   // → 1
      ZOrder.zValue(lit(7), lit(7), 3).as("d"))   // → 63
    // out-of-range values clamp into the TOP cell — without the clamp,
    // 2^bits would interleave like 0 and alias distant rows onto the
    // low cells, wrecking min/max file skipping
    val clamped = spark.range(1).select(
      ZOrder.zValue(lit(8), lit(0), 3).as("a"),   // 8 ≥ 2³ → clamps to 7
      ZOrder.zValue(lit(1000), lit(1000), 3).as("b"))
      .collect()(0)
    assert(clamped.getLong(0) ===
      spark.range(1).select(ZOrder.zValue(lit(7), lit(0), 3)).collect()(0).getLong(0))
    assert(clamped.getLong(1) === 63L)
    val r = df.collect()(0)
    // z(3,5): x bits {0,1} → z bits {1,3} = 10; y bits {0,2} → z bits {0,4} = 17
    assert(r.getLong(0) === 27L)
    assert(r.getLong(1) === 2L)
    assert(r.getLong(2) === 1L)
    assert(r.getLong(3) === 63L)
  }

  test("z-order cells skip on BOTH dimensions; single-column sort only on one") {
    // the full 64×64 lattice (truly independent dims — deriving both
    // coordinates from one counter mod m correlates them), 16 layout
    // cells each way. A thin y-slice (height 4) overlaps ≤ 4 of the 16
    // z-cells (the 4×4 quadrant decomposition) but ALL 16 x-sorted
    // cells — that gap is exactly the min/max-stats file skipping
    // OPTIMIZE ZORDER buys.
    val pts = spark.range(4096).select(
      (col("id") / 64).cast("long").as("x"), (col("id") % 64).as("y"))
    val z = pts.select(ZOrder.zValue(col("x"), col("y"), 6).as("z"),
      col("x"), col("y"))
    val zCells = z.select((col("z") / 256).cast("int").as("cell"),
        col("x"), col("y"))
      .groupBy("cell")
      .agg(min("y").as("ylo"), max("y").as("yhi"))
      .collect().map(r => (r.getLong(1), r.getLong(2)))
    val xCells = pts.select((col("x") / 4).cast("int").as("cell"),
        col("y"))
      .groupBy("cell")
      .agg(min("y").as("ylo"), max("y").as("yhi"))
      .collect().map(r => (r.getLong(1), r.getLong(2)))
    assert(zCells.length === 16 && xCells.length === 16)
    for (k <- 0 until 16) {
      val (lo, hi) = (k * 4L, k * 4L + 3L)
      val zOverlap = zCells.count { case (ylo, yhi) => ylo <= hi && yhi >= lo }
      val xOverlap = xCells.count { case (ylo, yhi) => ylo <= hi && yhi >= lo }
      assert(zOverlap <= 4, s"slice $k: z-layout overlaps $zOverlap cells")
      assert(xOverlap === 16, s"slice $k: x-sort should not skip on y")
    }
  }
}

/** Late-wave operators: grouped mode, calendar dimension, upsert audit,
  * JSON key profile — semantics against java.time / Scala recounts.
  */
class LateWaveSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  test("agg_grouped_mode returns the true argmax count with lowest-value ties") {
    val got = SparkEntry.queries("agg_grouped_mode")(spark, sf)
      .collect().map(r => (r.getString(0), r.getInt(1), r.getLong(2)))
    val raw = graft.Tables.lineitem(spark, sf)
      .selectExpr("l_returnflag", "CAST(l_quantity AS INT) AS q")
      .collect().map(r => (r.getString(0), r.getInt(1)))
    val expected = raw.groupBy(_._1).map { case (flag, vs) =>
      val counts = vs.groupBy(_._2).view.mapValues(_.size.toLong)
      val (qty, n) = counts.toSeq.minBy { case (q, c) => (-c, q) }
      (flag, qty, n)
    }.toSeq.sortBy(_._1)
    assert(got.toSeq === expected)
  }

  test("gen_calendar_dim fields agree with java.time over the whole range") {
    val rows = SparkEntry.queries("gen_calendar_dim")(spark, sf).collect()
    assert(rows.length === 731) // 1995 + leap 1996
    rows.foreach { r =>
      val d = r.getDate(0).toLocalDate
      assert(r.getInt(1) === d.getYear)
      assert(r.getInt(2) === (d.getMonthValue + 2) / 3)
      assert(r.getInt(3) === d.getMonthValue)
      assert(r.getInt(4) === d.getDayOfMonth)
      // the (epochDay+4) mod 7 anchor yields 0=Sunday — i.e. ISO dow mod 7
      val isoDow = d.getDayOfWeek.getValue // 1=Mon..7=Sun
      assert(r.getInt(5) === isoDow % 7)
      assert(r.getInt(5) === ((d.toEpochDay + 4) % 7 + 7) % 7)
    }
  }

  test("warehouse_upsert_merge actions partition the merged key space") {
    val rows = SparkEntry.queries("warehouse_upsert_merge")(spark, sf)
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    val ev = graft.Tables.events(spark, sf)
    val before = ev.filter(org.apache.spark.sql.functions.col("ts") <
      org.apache.spark.sql.functions.lit("2024-01-15"))
      .select("user_id").distinct().collect().map(_.getLong(0)).toSet
    val after = ev.filter(org.apache.spark.sql.functions.col("ts") >=
      org.apache.spark.sql.functions.lit("2024-01-15"))
      .select("user_id").distinct().collect().map(_.getLong(0)).toSet
    assert(rows.get("insert").map(_._1).getOrElse(0L) === (after -- before).size.toLong)
    assert(rows.get("unchanged").map(_._1).getOrElse(0L) === (before -- after).size.toLong)
    assert(rows.get("update").map(_._1).getOrElse(0L) === (before & after).size.toLong)
    // type changes only possible among updates
    assert(rows.forall { case (a, (_, chg)) => a == "update" || chg == 0L })
  }

  test("dq_json_key_profile totals reconcile with the table") {
    val rows = SparkEntry.queries("dq_json_key_profile")(spark, sf)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    val total = graft.Tables.events(spark, sf).count()
    assert(rows.map(_._2).sum === total)
    rows.foreach { case (ks, n, nk) =>
      assert(nk <= n)
      if (ks.split(",").contains("k")) assert(nk > 0)
    }
  }
}
