package graft

import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop, Test => SCTest}
import org.scalatest.funsuite.AnyFunSuite

/** Algebraic laws of the operators, checked on generated data (SURVEY §5.3).
  * Plain ScalaCheck (no scalatestplus bridge in the offline cache); a few
  * samples per law — each sample is a full Spark job.
  */
class PropertySpec extends AnyFunSuite with SparkFixture {

  private val rows = Gen.listOfN(60,
    Gen.zip(Gen.choose(0L, 20L), Gen.choose(0, 5), Gen.choose(-100.0, 100.0)))

  private def check(name: String, p: Prop): Unit = {
    val res = SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(5), p)
    assert(res.passed, s"$name: $res")
  }

  test("dedup is idempotent") {
    import spark.implicits._
    check("dedup", Prop.forAll(rows) { xs =>
      val once = xs.toDF("k", "t", "v").dropDuplicates("k", "t")
      once.count() == once.dropDuplicates("k", "t").count()
    })
  }

  test("md5PrefixLong equals MessageDigest md5 hex-prefix for arbitrary strings") {
    // the centralized cross-engine hash (Ql.md5PrefixLong) must equal an
    // independent JVM reimplementation — this is the single idiom every
    // hashed join key and sampling bucket depends on
    import spark.implicits._
    def reference(s: String, digits: Int): Long = {
      val md = java.security.MessageDigest.getInstance("MD5")
      val hex = md.digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
      java.lang.Long.parseLong(hex.take(digits), 16)
    }
    check("md5prefix", Prop.forAll(Gen.listOfN(20, Gen.asciiPrintableStr)) { strs =>
      // strings bind as column values (no SQL literals), so every
      // generated string — quotes, empty, all of it — is tested verbatim
      val got = strs.toDF("s")
        .selectExpr("s", graft.operators.Ql.md5PrefixLong("s", 14) + " AS h")
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      strs.forall(s => got(s) == reference(s, 14))
    })
  }

  test("scalar Ql.rd equals column Ql.r for arbitrary doubles and scales") {
    // the streaming processors (EWMA, drift) round with the JVM-side
    // Ql.rd while their batch twins round with the Catalyst-side Ql.r —
    // the equivalence specs lean on the two being the SAME function.
    // Exercise .xx5 ties, negatives, and magnitude spread explicitly.
    import spark.implicits._
    val gen = for {
      base <- Gen.chooseNum(-1e6, 1e6)
      tie <- Gen.oneOf(0.0, 0.00005, 0.000049999, -0.00005)
    } yield base + tie
    check("rdEqualsR", Prop.forAll(Gen.listOfN(50, gen), Gen.chooseNum(0, 6)) {
      (vs, scale) =>
        val got = vs.toDF("v")
          .select(col("v"), graft.operators.Ql.r(col("v"), scale).as("r"))
          .collect().map(r => r.getDouble(0) -> r.getDouble(1)).toMap
        vs.forall(v => got(v) == graft.operators.Ql.rd(v, scale))
    })
  }

  test("Ql rounding normalizes IEEE signed zero in every dialect") {
    // r11's q_cohens_d hash fail: a tiny NEGATIVE value rounding to zero
    // emitted +0.0 from Spark (BigDecimal round has no signed zero) but
    // −0.0 from DuckDB (double round keeps the sign bit), and the driver's
    // value hash sees the sign bit. Ql.r / Ql.R / Ql.rd append `+ 0.0` so
    // every rounded column in every query is immune — pin that here at
    // the raw-bits level (== cannot distinguish ±0.0; doubleToRawLongBits
    // can), on the Catalyst side, the JVM side, and for sanity a plain
    // positive underflow too.
    import spark.implicits._
    def isPosZero(d: Double): Boolean =
      java.lang.Double.doubleToRawLongBits(d) == 0L
    val tiny = Seq(-3.03e-5, -1e-9, -4.9e-5, 2.1e-5) // all round to 0 at 4dp
    val sparkSide = tiny.toDF("v")
      .select(graft.operators.Ql.r(col("v"), 4).as("r"))
      .collect().map(_.getDouble(0))
    sparkSide.foreach { d =>
      assert(d == 0.0 && isPosZero(d),
        s"Ql.r must emit +0.0 for sub-half-ulp values, got bits ${java.lang.Double.doubleToRawLongBits(d)}")
    }
    tiny.foreach { v =>
      val d = graft.operators.Ql.rd(v, 4)
      assert(d == 0.0 && isPosZero(d), s"Ql.rd($v, 4) must emit +0.0")
    }
    // the Spark-SQL-parsed dialect of Ql.R (the oracle twin's text is the
    // same string, so a Spark parse pins the expression shape both share)
    val viaR = spark.sql(s"SELECT ${graft.operators.Ql.R("-0.0000303", 4)} AS r")
      .head().getDouble(0)
    assert(viaR == 0.0 && isPosZero(viaR), "Ql.R text must normalize -0.0")
    // nonzero results must be untouched by the normalization
    assert(graft.operators.Ql.rd(-0.00006, 4) == -0.0001)
    assert(graft.operators.Ql.rd(1.23456, 4) == 1.2346)
  }

  test("rank-sum AUC equals brute-force pairwise AUC, ties included") {
    // q_auc's grouped closed form (2·Σranks⁺ − P(P+1)) / (2·P·N) must
    // equal AUC's *definition*: P(score⁺ > score⁻) + ½·P(tie) over all
    // positive×negative pairs. The oracle twin shares the closed form, so
    // this independent pairwise count is what actually validates it.
    // Scores drawn from a small integer range to force heavy ties.
    import spark.implicits._
    val labeled = Gen.listOfN(40,
      Gen.zip(Gen.choose(0, 8), Gen.oneOf(0L, 1L)))
    check("auc", Prop.forAll(labeled) { xs =>
      val pos = xs.filter(_._2 == 1L).map(_._1)
      val neg = xs.filter(_._2 == 0L).map(_._1)
      (pos.isEmpty || neg.isEmpty) || {
        val pairs = for { p <- pos; n <- neg }
          yield if (p > n) 1.0 else if (p == n) 0.5 else 0.0
        val expected = graft.operators.Ql.rd(pairs.sum / (pos.size.toDouble * neg.size), 6)
        val got = graft.operators.EvalQueries.rankSumAuc(
          xs.toDF("score", "pos")).collect()(0)
        got.getLong(0) == pos.size && got.getLong(1) == neg.size &&
          got.getDouble(2) == expected
      }
    })
  }

  test("two-level-ordinal AP equals the sequential-walk definition") {
    // q_avg_precision's distributed rank/prefix-sum machinery must equal
    // AP's definition: walk (score DESC, id), precision-at-k summed over
    // relevant rows, / n_pos. The oracle twin uses literal windows over
    // the same permutation, so only this independent sequential fold
    // validates the two-level ordinal arithmetic itself. Integer scores
    // force duplicate bucket keys and in-bucket ties.
    import spark.implicits._
    val labeled = Gen.listOfN(40,
      Gen.zip(Gen.choose(-4, 4), Gen.oneOf(0L, 1L)))
    check("ap", Prop.forAll(labeled) { xs =>
      val rows = xs.zipWithIndex.map { case ((s, p), i) => (i.toLong, s.toDouble, p) }
      val nPos = rows.count(_._3 == 1L)
      nPos == 0 || {
        val walk = rows.sortBy(r => (-r._2, r._1))
        var cum = 0L
        var apNum = 0.0
        walk.zipWithIndex.foreach { case ((_, _, p), k) =>
          if (p == 1L) { cum += 1; apNum += cum.toDouble / (k + 1) }
        }
        val expected = graft.operators.Ql.rd(apNum / nPos, 6)
        val got = graft.operators.EvalQueries.rankSumAp(
          rows.toDF("vec_id", "score", "pos")).collect()(0)
        got.getLong(0) == rows.size && got.getLong(1) == nPos &&
          got.getDouble(2) == expected
      }
    })
  }

  test("union-all count is additive; union distinct is bounded") {
    import spark.implicits._
    check("union", Prop.forAll(rows, rows) { (xs, ys) =>
      val a = xs.toDF("k", "t", "v")
      val b = ys.toDF("k", "t", "v")
      a.unionAll(b).count() == a.count() + b.count() &&
        a.union(b).distinct().count() <= a.distinct().count() + b.distinct().count()
    })
  }

  test("tumbling windows conserve row count (no watermark drop in batch)") {
    import spark.implicits._
    check("window", Prop.forAll(Gen.listOfN(50, Gen.choose(0L, 86400L * 20))) { secs =>
      val df = secs.toDF("s").select(timestamp_seconds(col("s")).as("ts"))
      val windowed = df.groupBy(window(col("ts"), "1 hour")).count()
      windowed.agg(sum("count")).first().getLong(0) == secs.size
    })
  }

  test("intersect + except partition the distinct left side") {
    import spark.implicits._
    check("setops", Prop.forAll(rows, rows) { (xs, ys) =>
      val a = xs.toDF("k", "t", "v").select("k").distinct()
      val b = ys.toDF("k", "t", "v").select("k")
      a.intersect(b).count() + a.except(b).count() == a.count()
    })
  }

  test("sort-limit(k) equals head-k of the full sort") {
    import spark.implicits._
    check("topk", Prop.forAll(rows) { xs =>
      val df = xs.toDF("k", "t", "v")
      val topk = df.orderBy(col("v"), col("k"), col("t")).limit(10)
        .collect().map(_.toSeq).toSeq
      val full = df.orderBy(col("v"), col("k"), col("t"))
        .collect().map(_.toSeq).take(10).toSeq
      topk == full
    })
  }

  test("pointer-jumping CC converges on a 100-node path in O(log d) rounds") {
    // worst case for plain min-label propagation: a diameter-99 chain
    // needs ~99 rounds; pointer jumping must collapse it in O(log d).
    // 8 is the budget incl. the final no-change fixpoint round — the
    // chain shape is exactly the paginated-boilerplate duplicate cluster
    // that at corpus scale would blow a 50-round O(d) loop. Spread
    // round-robin over 50 partitions, each partition's union-find sees
    // about four scattered edges, so a long residual chain is left for
    // the loop (contiguous slices would contract to almost nothing).
    import spark.implicits._
    val edges = (1L until 100L).map(i => (i, i + 1)).toDF("d1", "d2")
    val adj = edges.select(col("d1").as("a"), col("d2").as("b"))
      .unionByName(edges.select(col("d2").as("a"), col("d1").as("b")))
      .repartition(50)
    val (labels, rounds) = operators.ClusterQueries.connectedComponents(adj)
    assert(rounds > 0, "the round-robin layout must leave a residual for the loop")
    assert(rounds <= 8, s"expected O(log d) convergence, took $rounds rounds")
    val got = labels.collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(got.length == 100 && got.forall(_._2 == 1L),
      "every node of the single component must carry the min id label")
  }

  test("CC labels equal a driver-side union-find on 1, 3 and 7 partitions") {
    // the labels must not depend on how the edges are spread. Seeded
    // graphs of chains, stars and isolated pairs over shuffled ids, the
    // edges in random order and direction, dealt round-robin over 1, 3
    // and 7 partitions. One partition contracts everything, so no label
    // round runs; over 7 the chains' edges land in different partitions,
    // their roots disagree and the fallback loop must finish the job.
    import spark.implicits._
    def graph(seed: Int): Seq[(Long, Long)] = {
      val rnd = new scala.util.Random(seed)
      val ids = rnd.shuffle((1L to 400L).toVector)
      var used = 0
      def take(k: Int) = { used += k; ids.slice(used - k, used) }
      def chain(k: Int) = take(k).sliding(2).map(p => (p(0), p(1))).toVector
      def star(k: Int) = { val v = take(k + 1); v.tail.map(l => (v.head, l)) }
      val es = (1 to 6).flatMap(_ => chain(2 + rnd.nextInt(29))) ++
        (1 to 6).flatMap(_ => star(2 + rnd.nextInt(9))) ++
        (1 to 6).flatMap(_ => chain(2))
      rnd.shuffle(es.map { case (a, b) => if (rnd.nextBoolean()) (a, b) else (b, a) })
    }
    def reference(es: Seq[(Long, Long)]): Map[Long, Long] = {
      val parent = scala.collection.mutable.Map.empty[Long, Long]
      def find(x: Long): Long = {
        val p = parent.getOrElseUpdate(x, x)
        if (p == x) x else { val r = find(p); parent(x) = r; r }
      }
      es.foreach { case (a, b) =>
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      parent.keys.map(x => x -> find(x)).toMap
    }
    for (seed <- 1 to 3; parts <- Seq(1, 3, 7)) {
      val es = graph(seed)
      val adj = es.toDF("a", "b").repartition(parts)
      val (labels, rounds) = operators.ClusterQueries.connectedComponents(adj)
      val got = labels.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got == reference(es), s"seed $seed over $parts partitions")
      if (parts == 1) assert(rounds == 0, s"one partition must contract fully, ran $rounds")
      if (parts == 7) assert(rounds > 0, s"seed $seed: 7 partitions must leave a residual")
    }
  }

  test("pagerank conserves probability mass and is uniform on regular graphs") {
    import spark.implicits._
    // directed cycle 1→2→…→20→1: out-degree 1 everywhere, so the rank
    // vector must stay exactly uniform (1/20) every round, and total mass
    // must stay ~1 (exactly, up to the per-round 1e-7 rounding quench)
    val cyc = (1L to 20L).map(i => (i, i % 20 + 1)).toDF("src", "dst")
    val ranks = operators.GraphQueries.pageRank(cyc, 10)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(ranks.size == 20)
    ranks.values.foreach(v => assert(math.abs(v - 0.05) < 1e-6, s"non-uniform: $ranks"))
    assert(math.abs(ranks.values.sum - 1.0) < 1e-4)
    // star + tail asymmetry: a node with more in-links outranks a leaf
    val star = Seq((1L, 2L), (3L, 2L), (4L, 2L), (2L, 1L), (2L, 3L), (2L, 4L))
      .toDF("src", "dst")
    val s = operators.GraphQueries.pageRank(star, 10)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(s(2L) > s(1L) && s(2L) > s(3L) && s(2L) > s(4L),
      s"hub must outrank leaves: $s")
    assert(math.abs(s.values.sum - 1.0) < 1e-4)
  }

  test("the PageRank kernel equals the DataFrame round byte for byte on random multigraphs") {
    import spark.implicits._
    // 40 nodes with random 64-bit ids: 5 only ever a src, 5 only ever a
    // dst, 30 both; 120 random edges plus 20 repeats of them (parallel
    // edges) and whatever self-loops the draw makes
    def graph(seed: Int): Seq[(Long, Long)] = {
      val rnd = new scala.util.Random(seed)
      val ids = Iterator.continually(rnd.nextLong()).distinct.take(40).toVector
      val (from, to) = (ids.take(5) ++ ids.drop(10), ids.slice(5, 40))
      val es = Seq.fill(120)((from(rnd.nextInt(from.size)), to(rnd.nextInt(to.size))))
      es ++ Seq.fill(20)(es(rnd.nextInt(es.size)))
    }
    def bits(df: org.apache.spark.sql.DataFrame): Map[Long, Long] =
      df.collect().map(r => r.getLong(0) -> java.lang.Double.doubleToRawLongBits(r.getDouble(1))).toMap
    val key = "spark.sql.shuffle.partitions"
    val old = spark.conf.get(key)
    try for (seed <- 1 to 2; parts <- Seq(1, 3, 7)) {
      spark.conf.set(key, parts.toString)
      val es = graph(seed).toDF("src", "dst")
      val got = bits(operators.GraphQueries.pageRank(es, 8))
      assert(got.nonEmpty)
      assert(got == bits(DataFramePageRank.pageRank(es, 8)), s"pageRank: seed $seed over $parts partitions")
      val (prC, k) = operators.GraphQueries.pageRankConverged(es, 1e-3)
      val (refC, refK) = DataFramePageRank.pageRankConverged(es, 1e-3)
      assert(k == refK && bits(prC) == bits(refC),
        s"pageRankConverged: seed $seed over $parts partitions, $k rounds vs $refK")
    } finally spark.conf.set(key, old)
    // every fixed round runs inside the one job that materializes the ranks
    val es = graph(3).toDF("src", "dst")
    assert(jobsDuring(operators.GraphQueries.pageRank(es, 8)) ==
      jobsDuring(operators.GraphQueries.pageRank(es, 1)))
  }

  test("convergence-loop k-core equals brute-force peeling and outruns 3 fixed rounds") {
    import spark.implicits._
    // triangle (nodes 1-3, all degree 2) + an 8-node pendant chain off
    // node 1: with k=2 exactly one chain endpoint peels per round, so
    // convergence needs 8 rounds — the shape that proves the fixed
    // 3-round oracled q_kcore under-peels graphs of unknown depth
    val undirected = Seq((1L, 2L), (2L, 3L), (3L, 1L)) ++
      (0 until 8).map(i => (if (i == 0) 1L else 100L + i, 101L + i))
    def brute(k: Int): Map[Long, Int] = {
      var adj = undirected.flatMap { case (a, b) => Seq((a, b), (b, a)) }.toSet
      var changed = true
      while (changed) {
        val bad = adj.groupBy(_._1).collect { case (n, es) if es.size < k => n }.toSet
        changed = bad.nonEmpty
        adj = adj.filter { case (a, b) => !bad(a) && !bad(b) }
      }
      adj.groupBy(_._1).map { case (n, es) => (n, es.size) }
    }
    val e = undirected.toDF("src", "dst")
    val sym = e.unionByName(e.select(col("dst").as("src"), col("src").as("dst")))
    val (survivors, rounds) = operators.GraphQueries.kcoreConverged(sym, 2)
    val got = survivors.collect().map(r => (r.getLong(0), r.getLong(1).toInt)).toMap
    assert(got == brute(2), s"k=2 core mismatch: got $got expected ${brute(2)}")
    assert(rounds == 8, s"pendant chain must take 8 peel rounds, took $rounds")
    // k above the max degree empties the graph; k=1 keeps everything
    val (empty, _) = operators.GraphQueries.kcoreConverged(sym, 10)
    assert(empty.count() == 0L)
    val (all, r1) = operators.GraphQueries.kcoreConverged(sym, 1)
    assert(r1 == 0 && all.count() == 11L,
      "k=1 must converge in zero rounds with every node kept")
  }

  test("convergence-loop PageRank equals its fixed-round twin and outruns 8 rounds on a slow mixer") {
    import spark.implicits._
    // Fast case: symmetric star (hub 1 ↔ 2,3,4). The loop and the
    // fixed-round variant share the identical 7-dp-rounded step, so the
    // converged result must be BYTE-EQUAL to pageRank run for exactly
    // the number of rounds the loop took.
    val star = Seq((1L, 2L), (1L, 3L), (1L, 4L)).toDF("src", "dst")
    val sym = star.unionByName(
      star.select(col("dst").as("src"), col("src").as("dst")))
    val tol = 1e-2
    val (prC, k) = operators.GraphQueries.pageRankConverged(sym, tol)
    val fixedK = operators.GraphQueries.pageRank(sym, k)
    def m(df: org.apache.spark.sql.DataFrame): Map[Long, Double] =
      df.collect().map(r => (r.getLong(0), r.getDouble(1))).toMap
    assert(m(prC) == m(fixedK),
      s"loop after $k rounds must equal pageRank(rounds=$k) exactly")
    assert(math.abs(m(prC).values.sum - 1.0) < 1e-4, "mass conservation")
    // Slow case: directed 30-cycle with one chord (0→15). Information
    // moves one node per round, damped by 0.85 — the L1 delta decays
    // ~0.85^t, so 8 rounds (the oracled q_pagerank contract, tuned to
    // the co-purchase graph) land an order of magnitude short of tol.
    val cyc = ((0 until 30).map(i => (i.toLong, ((i + 1) % 30).toLong))
      :+ (0L, 15L)).toDF("src", "dst")
    val tolS = 1e-3
    val (prS, kS) = operators.GraphQueries.pageRankConverged(cyc, tolS)
    assert(kS > 8, s"slow mixer must need more than 8 rounds, took $kS")
    // ...and 8 fixed rounds genuinely hadn't converged: one more round
    // still moves the ranks by at least tol
    val m8 = m(operators.GraphQueries.pageRank(cyc, 8))
    val m9 = m(operators.GraphQueries.pageRank(cyc, 9))
    val d89 = m8.toSeq.map { case (n, p) => math.abs(p - m9(n)) }.sum
    assert(d89 >= tolS, s"round 8→9 delta $d89 must still exceed tol=$tolS")
    assert(math.abs(m(prS).values.sum - 1.0) < 1e-4, "mass conservation")
  }

  test("convergence-loop power iteration equals its fixed-round twin and outruns 3 rounds on a narrow spectrum") {
    import spark.implicits._
    def diag(eigs: Double*): org.apache.spark.sql.DataFrame =
      eigs.zipWithIndex.map { case (e, ix) => ((ix + 1).toLong, (ix + 1).toLong, e) }
        .toDF("i", "j", "c")
    // Wide spectrum (ratio 0.01): three fixed rounds are plenty — the
    // loop stops early and must match the same number of shared
    // 8-dp-rounded powerIterStep applications from the same uniform
    // start (1/√d = 1/2 for d=4) exactly.
    val wide = diag(100.0, 1.0, 0.5, 0.1)
    val (vW, eigW, kW) = operators.StatQueries.powerIterationConverged(wide, 1e-6)
    var vFixed = wide.select(col("i")).distinct().withColumn("v", lit(0.5))
    (1 to kW).foreach { _ =>
      vFixed = operators.StatQueries.powerIterStep(wide, vFixed)
    }
    def m(df: org.apache.spark.sql.DataFrame): Map[Long, Double] =
      df.collect().map(r => (r.getLong(0), r.getDouble(1))).toMap
    assert(m(vW) == m(vFixed),
      s"loop after $kW rounds must equal $kW fixed powerIterStep rounds")
    assert(math.abs(eigW - 100.0) < 1e-3, s"eigenvalue $eigW must be ~100")
    assert(math.abs(m(vW)(1L)) > 0.999, "dominant loading must align with e1")
    // Narrow spectrum (ratio 0.8): Rayleigh error decays ~0.64^t, so
    // q_pca_power's fixed 3 rounds are far from converged while the
    // loop runs past them and lands within tolerance of the true λ₁.
    val narrow = diag(4.0, 3.2, 1.0, 0.5)
    val (vN, eigN, kN) = operators.StatQueries.powerIterationConverged(narrow, 1e-4)
    assert(kN > 3, s"narrow spectrum must need more than 3 rounds, took $kN")
    assert(math.abs(eigN - 4.0) < 1e-3, s"converged eigenvalue $eigN must be ~4")
    var v3 = narrow.select(col("i")).distinct().withColumn("v", lit(0.5))
    (1 to 3).foreach { _ =>
      v3 = operators.StatQueries.powerIterStep(narrow, v3)
    }
    val eig3 = operators.StatQueries.rayleighQuotient(narrow, v3)
    assert(math.abs(eig3 - 4.0) > math.abs(eigN - 4.0) && math.abs(eig3 - 4.0) > 1e-2,
      s"3 fixed rounds ($eig3) must sit farther from λ₁ than the loop ($eigN)")
  }

  test("a convergence loop that gives up past maxRounds releases every block it pinned") {
    import spark.implicits._
    val sc = spark.sparkContext
    def leavesNothing(name: String)(run: => Any): Unit = {
      val before = sc.getPersistentRDDs.keySet.toSet
      val e = intercept[IllegalStateException](run)
      val left = sc.getPersistentRDDs.keySet.toSet -- before
      assert(left.isEmpty, s"$name threw (${e.getMessage}) and left ${left.size} persisted RDDs")
    }
    // the slow-mixing cycle, the pendant chain, the narrow spectrum and
    // the triangulated lattice of the tests above: each needs more than
    // one round, so maxRounds = 1 makes every loop throw after pinning
    val cyc = ((0 until 30).map(i => (i.toLong, ((i + 1) % 30).toLong))
      :+ (0L, 15L)).toDF("src", "dst")
    leavesNothing("pageRankConverged")(
      operators.GraphQueries.pageRankConverged(cyc, 1e-3, maxRounds = 1))
    val chain = (Seq((1L, 2L), (2L, 3L), (3L, 1L)) ++
      (0 until 8).map(i => (if (i == 0) 1L else 100L + i, 101L + i))).toDF("src", "dst")
    val sym = chain.unionByName(chain.select(col("dst").as("src"), col("src").as("dst")))
    leavesNothing("kcoreConverged")(
      operators.GraphQueries.kcoreConverged(sym, 2, maxRounds = 1))
    val narrow = Seq((1L, 1L, 4.0), (2L, 2L, 3.2), (3L, 3L, 1.0), (4L, 4L, 0.5))
      .toDF("i", "j", "c")
    leavesNothing("powerIterationConverged")(
      operators.StatQueries.powerIterationConverged(narrow, 1e-4, maxRounds = 1))
    def vid(r: Int, c: Int): Long = (r * 100 + c).toLong
    val lattice = (for {
      r <- 0 to 8; c <- 0 to 8
      (dr, dc) <- Seq((0, 1), (1, 0), (1, 1))
      if r + dr <= 8 && c + dc <= 8
    } yield (vid(r, c), vid(r + dr, c + dc))).toDF("a", "b")
    leavesNothing("ktrussConverged")(
      operators.GraphQueries.ktrussConverged(lattice, 4, maxRounds = 1))
  }

  test("pointer-jumping CC labels disjoint components independently") {
    import spark.implicits._
    // two triangles + an isolated edge — labels must be each component's min
    val edges = Seq((1L, 2L), (2L, 3L), (1L, 3L),
      (10L, 11L), (11L, 12L), (20L, 21L)).toDF("d1", "d2")
    val adj = edges.select(col("d1").as("a"), col("d2").as("b"))
      .unionByName(edges.select(col("d2").as("a"), col("d1").as("b")))
    val (labels, _) = operators.ClusterQueries.connectedComponents(adj)
    val got = labels.collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    val expected = Map(1L -> 1L, 2L -> 1L, 3L -> 1L,
      10L -> 10L, 11L -> 10L, 12L -> 10L, 20L -> 20L, 21L -> 20L)
    assert(got == expected)
  }

  test("native ZOrder equals the shift/mask SQL formula (grid + random 16-bit)") {
    import spark.implicits._
    // the oracle of q_zorder_layout uses the expanded formula; the query
    // uses the codegen Expression — prove them equal exhaustively on the
    // 6-bit grid the query quantizes to, and on random 16-bit inputs
    val formula = (0 to 15).map(j =>
      s"shiftleft((shiftright(x, $j) & 1), ${2 * j}) + shiftleft((shiftright(y, $j) & 1), ${2 * j + 1})")
      .mkString(" + ")
    val grid = spark.range(0, 64).select(col("id").as("x"))
      .crossJoin(spark.range(0, 64).select(col("id").as("y")))
    val rnd = new scala.util.Random(7)
    val randoms = Seq.fill(200)((rnd.nextInt(1 << 16).toLong, rnd.nextInt(1 << 16).toLong))
      .toDF("x", "y")
    Seq(grid, randoms).foreach { d =>
      val bad = d
        .withColumn("znative", functions.ZOrder(col("x"), col("y")))
        .withColumn("zformula", expr(formula))
        .filter(col("znative") =!= col("zformula")).count()
      assert(bad == 0L, "ZOrder diverged from the expanded formula")
    }
    // spot-check the bit layout itself: x occupies even bits, y odd
    val one = Seq((1L, 0L), (0L, 1L), (63L, 0L), (0L, 63L)).toDF("x", "y")
      .withColumn("z", functions.ZOrder(col("x"), col("y")))
      .collect().map(_.getLong(2)).toSeq
    assert(one == Seq(1L, 2L, 1365L, 2730L), one)
  }

  test("native MaxTokenFreq equals the interpreted max-frequency HOF") {
    import spark.implicits._
    // random word sequences over a small alphabet (collisions guaranteed),
    // plus edge shapes: empty, single, all-same, all-distinct, empty-string
    // tokens. The HOF form is the independent O(distinct*n) definition of
    // max word frequency; the codegen Expression must match it exactly.
    val rnd = new scala.util.Random(11)
    val alphabet = Vector("a", "bb", "ccc", "", "dd", "e")
    val docs = Seq.fill(300)(
      Seq.fill(rnd.nextInt(40))(alphabet(rnd.nextInt(alphabet.size)))) ++
      Seq(Seq.empty[String], Seq("x"), Seq.fill(17)("x"),
        Seq("a", "b", "c"), Seq("", "", "a"))
    val df = docs.toDF("toks")
    val bad = df
      .withColumn("native", functions.MaxTokenFreq(col("toks")))
      .withColumn("hof", expr(
        """CASE WHEN size(toks) = 0 THEN 0 ELSE
             array_max(transform(array_distinct(toks),
               w -> size(filter(toks, x -> x = w)))) END"""))
      .filter(col("native") =!= col("hof")).count()
    assert(bad == 0L, "MaxTokenFreq diverged from the HOF max-frequency form")
    // null array → null; null ELEMENTS are ignored (not tokens)
    val edge = Seq((Seq("a", null, "a"): Seq[String], 1), (null: Seq[String], 2))
      .toDF("toks", "tag")
      .withColumn("m", functions.MaxTokenFreq(col("toks")))
      .orderBy("tag").collect()
    assert(edge(0).getInt(2) == 2)
    assert(edge(1).isNullAt(2))
  }

  test("q_kaplan_meier equals a sequential brute-force KM over sf0.001") {
    // The query computes S(h) via a theta-join + exp-of-sum-of-logs; the
    // oracle twin shares that shape, so the independent check is the
    // DEFINITION: sort observations, walk event days sequentially, and
    // take the literal product Π (n_t − d_t)/n_t. Exact-integer fields
    // must match exactly; survival to 6 dp within one rounding ulp
    // (direct product vs exp(Σln) differ only in last-bit residue).
    val sf = "/root/testdata/sf0.001"
    val rows = Tables.events(spark, sf)
      .select(col("user_id"), col("event_type"), to_date(col("ts")).as("day"))
      .collect()
      .map(r => (r.getLong(0), r.getString(1), r.getDate(2).toLocalDate))
    val maxd = rows.map(_._3).max
    val obs = rows.groupBy(_._1).values.map { es =>
      val d0 = es.map(_._3).min
      val dp = es.filter(_._2 == "purchase").map(_._3) match {
        case e if e.isEmpty => None
        case e => Some(e.min)
      }
      val t = dp.map(p => java.time.temporal.ChronoUnit.DAYS.between(d0, p))
        .getOrElse(java.time.temporal.ChronoUnit.DAYS.between(d0, maxd))
      (t, dp.isDefined)
    }.toSeq
    val deaths = obs.filter(_._2).groupBy(_._1).view.mapValues(_.size).toMap
    val got = SparkEntry.queries("q_kaplan_meier")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(got.map(_._1).toSeq == Seq(1L, 3L, 7L, 14L, 30L))
    got.foreach { case (h, nRisk, nConv, surv) =>
      assert(nRisk == obs.count(_._1 >= h), s"n_risk at h=$h")
      assert(nConv == deaths.filter(_._1 <= h).values.sum, s"n_conv_by_h at h=$h")
      val brute = deaths.keys.toSeq.sorted.filter(_ <= h).foldLeft(1.0) {
        (s, t) =>
          val n = obs.count(_._1 >= t)
          s * (n - deaths(t)).toDouble / n
      }
      assert(math.abs(surv - graft.operators.Ql.rd(brute, 6)) <= 1e-6,
        s"survival at h=$h: $surv vs brute $brute")
    }
  }

  test("q_target_encode's LOO-above-prior count equals exact fraction comparison") {
    // The query decides encᵢ > prior by integer cross-multiplication; the
    // independent check compares the two fractions directly with BigInt
    // numerators — (N(S−yᵢ)+10H)·N vs H·N(n+9) — derived from the LOO
    // definition, not from the query's rearranged inequality.
    val sf = "/root/testdata/sf0.001"
    val rows = Tables.orders(spark, sf)
      .select(col("o_orderpriority"), col("o_totalprice")).collect()
      .map(r => (r.getString(0), if (r.getDouble(1) > 250000.0) 1L else 0L))
    val nTot = BigInt(rows.length)
    val hTot = BigInt(rows.map(_._2).sum)
    val byCat = rows.groupBy(_._1)
    val got = SparkEntry.queries("q_target_encode")(spark, sf)
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(4))).toMap
    byCat.foreach { case (cat, es) =>
      val n = BigInt(es.length)
      val s = BigInt(es.map(_._2).sum)
      val expect = es.count { case (_, y) =>
        // enc_i = (N(S−y)+10H) / (N(n+9)) ; prior = H/N
        (nTot * (s - BigInt(y)) + 10 * hTot) * nTot > hTot * (nTot * (n + 9))
      }
      val (gn, gh, gAbove) = got(cat)
      assert(gn == es.length && gh == es.map(_._2).sum && gAbove == expect,
        s"$cat: got ($gn,$gh,$gAbove) want (${es.length},${es.map(_._2).sum},$expect)")
    }
  }

  test("q_aqp_sum_ci equals an independent JVM-hash recomputation at sf0.001") {
    // The estimator's sample membership comes from Ql.md5PrefixLong; the
    // independent check re-derives membership with MessageDigest and
    // recomputes estimate/true/CI in plain Scala (BigInt cents for the
    // sums, doubles only for the variance), then compares all fields.
    val sf = "/root/testdata/sf0.001"
    def md5Prefix(s: String, digits: Int): Long = {
      val md = java.security.MessageDigest.getInstance("MD5")
      val hex = md.digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
      java.lang.Long.parseLong(hex.take(digits), 16)
    }
    val rows = Tables.lineitem(spark, sf)
      .select(col("l_orderkey"), col("l_linenumber"), col("l_extendedprice"))
      .collect()
      .map(r => (s"${r.getLong(0)}-${r.getInt(1)}",
        BigInt(math.round(r.getDouble(2) * 100 + 1e-9))))
    val samp = rows.filter { case (k, _) => md5Prefix(k, 4) % 16 == 0 }
    val trueCents = rows.map(_._2).sum
    val sampCents = samp.map(_._2).sum
    val ssq = samp.map { case (_, c) => val x = c.toLong / 100.0; x * x }.sum
    val got = SparkEntry.queries("q_aqp_sum_ci")(spark, sf).collect()(0)
    assert(got.getLong(0) == rows.length && got.getLong(1) == samp.length)
    assert(math.abs(got.getDouble(2) - graft.operators.Ql.rd(trueCents.toLong / 100.0, 2)) <= 1e-9)
    assert(math.abs(got.getDouble(3) - graft.operators.Ql.rd((sampCents * 16).toLong / 100.0, 2)) <= 1e-9)
    val hw = 1.96 * math.sqrt(240.0 * ssq)
    assert(math.abs(got.getDouble(5) - graft.operators.Ql.rd(hw, 0)) <= 1.0,
      s"ci_halfwidth ${got.getDouble(5)} vs $hw")
  }

  test("q_join_size_est matches a direct recomputation and the true pair count") {
    val sf = "/root/testdata/sf0.001"
    val counts = Tables.lineitem(spark, sf)
      .groupBy("l_partkey").agg(count(lit(1)).as("c"))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val truePairs = counts.map { case (_, c) => c * c }.sum
    val top = counts.sortBy { case (k, c) => (-c, k) }.take(100)
    val topSq = top.map { case (_, c) => c * c }.sum
    val topRows = top.map(_._2).sum
    val nRows = counts.map(_._2).sum
    val tailKeys = math.max(counts.length - 100, 1)
    val est = topSq + (nRows - topRows).toDouble * (nRows - topRows) / tailKeys
    val got = SparkEntry.queries("q_join_size_est")(spark, sf).collect()(0)
    assert(got.getLong(0) == nRows && got.getLong(1) == counts.length)
    assert(got.getLong(2) == truePairs, s"true_pairs ${got.getLong(2)} vs $truePairs")
    assert(math.abs(got.getDouble(3) - graft.operators.Ql.rd(est, 2)) <= 1e-6,
      s"est_pairs ${got.getDouble(3)} vs $est")
  }

  test("q_wilson_ci brackets the rate, stays in [0,1], and matches scala math") {
    val sf = "/root/testdata/sf0.001"
    val got = SparkEntry.queries("q_wilson_ci")(spark, sf).collect()
    assert(got.nonEmpty)
    got.foreach { r =>
      val (n, k) = (r.getLong(1), r.getLong(2))
      val (rate, lo, hi) = (r.getDouble(3), r.getDouble(4), r.getDouble(5))
      assert(lo >= 0.0 && hi <= 1.0 && lo <= rate && rate <= hi,
        s"${r.getString(0)}: interval ($lo, $hi) must bracket $rate in [0,1]")
      val p = k.toDouble / n
      val z2 = 1.96 * 1.96
      def bound(sign: Double) =
        (p + z2 / (2 * n) + sign * 1.96 * math.sqrt(p * (1.0 - p) / n + z2 / (4.0 * n * n))) /
          (1.0 + z2 / n)
      assert(math.abs(lo - graft.operators.Ql.rd(bound(-1), 6)) <= 1e-6, "lo")
      assert(math.abs(hi - graft.operators.Ql.rd(bound(1), 6)) <= 1e-6, "hi")
    }
  }

  test("q_holt_forecast equals a plain Scala sequential Holt recursion") {
    // The query folds the recursion with the aggregate() HOF and the
    // oracle replays it as a recursive CTE — both are engine-side. The
    // independent check is the textbook definition in plain Scala:
    // l₂=x₂, b₂=x₂−x₁, then lₜ = αxₜ + (1−α)(lₜ₋₁+bₜ₋₁),
    // bₜ = β(lₜ−lₜ₋₁) + (1−β)bₜ₋₁ over the same 6 dp daily means.
    val sf = "/root/testdata/sf0.001"
    val daily = Tables.events(spark, sf)
      .groupBy(to_date(col("ts")).as("day"), col("event_type"))
      .agg(operators.Ql.r(avg(col("value")), 6).as("x"))
      .collect()
      .map(r => (r.getString(1), r.getDate(0).toLocalDate, r.getDouble(2)))
      .groupBy(_._1).view.mapValues(_.sortBy(_._2).map(_._3)).toMap
    val got = SparkEntry.queries("q_holt_forecast")(spark, sf)
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getDouble(2), r.getDouble(3), r.getDouble(4))).toMap
    assert(got.keySet == daily.keySet)
    daily.foreach { case (key, xs) =>
      var l = xs(1); var b = xs(1) - xs(0)
      xs.drop(2).foreach { x =>
        val l1 = 0.4 * x + 0.6 * (l + b)
        b = 0.3 * (l1 - l) + 0.7 * b
        l = l1
      }
      val (n, lvl, trd, fc) = got(key)
      assert(n == xs.length, s"$key n_days")
      assert(math.abs(lvl - graft.operators.Ql.rd(l, 4)) <= 1e-9, s"$key level")
      assert(math.abs(trd - graft.operators.Ql.rd(b, 4)) <= 1e-9, s"$key trend")
      assert(math.abs(fc - graft.operators.Ql.rd(l + 7 * b, 4)) <= 1e-9, s"$key fc")
    }
  }

  test("q_ridge_regression solves the JVM-side normal equations exactly") {
    // The query assembles exact-integer sufficient statistics and solves
    // the 2x2 system in SQL; the independent check recomputes BOTH the
    // statistics (from raw rows) and the solve (plain Scala doubles).
    // As lambda -> 0+ the fit must also approach OLS; with lambda=1000
    // on ~6k rows the betas land near the no-intercept OLS solution.
    val sf = "/root/testdata/sf0.001"
    val rows = Tables.lineitem(spark, sf)
      .select(col("l_quantity").cast("long"),
        operators.Ql.r(col("l_discount") * 100, 0).cast("long"),
        operators.Ql.r(col("l_extendedprice") * 100, 0).cast("long"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    var (s11, s12, s22, b1, b2) = (0L, 0L, 0L, 0L, 0L)
    rows.foreach { case (x1, x2, y) =>
      s11 += x1 * x1; s12 += x1 * x2; s22 += x2 * x2
      b1 += x1 * y; b2 += x2 * y
    }
    val det = (s11.toDouble + 1000.0) * (s22 + 1000.0) - s12.toDouble * s12
    val beta1 = ((s22 + 1000.0) * b1 - s12.toDouble * b2) / det
    val beta2 = ((s11.toDouble + 1000.0) * b2 - s12.toDouble * b1) / det
    val r = SparkEntry.queries("q_ridge_regression")(spark, sf).collect().head
    assert(r.getLong(r.fieldIndex("s11")) == s11 &&
      r.getLong(r.fieldIndex("s12")) == s12 &&
      r.getLong(r.fieldIndex("s22")) == s22 &&
      r.getLong(r.fieldIndex("b1")) == b1 &&
      r.getLong(r.fieldIndex("b2")) == b2, "sufficient statistics")
    assert(math.abs(r.getDouble(r.fieldIndex("beta1_cents")) -
      graft.operators.Ql.rd(beta1, 4)) <= 1e-9, "beta1")
    assert(math.abs(r.getDouble(r.fieldIndex("beta2_cents")) -
      graft.operators.Ql.rd(beta2, 4)) <= 1e-9, "beta2")
    assert(math.abs(r.getDouble(r.fieldIndex("yhat_probe")) -
      graft.operators.Ql.rd((beta1 * 30.0 + beta2 * 5.0) / 100.0, 2)) <= 1e-9,
      "probe prediction")
  }

  test("q_mann_whitney's integer rank machinery matches a brute-force rank sum") {
    // Doubled mid-ranks over the cent grid vs the definition: sort the
    // combined sample, assign average ranks with ties, sum over group A.
    val sf = "/root/testdata/sf0.001"
    val vals = Tables.events(spark, sf)
      .filter(col("event_type").isin("click", "error"))
      .select(operators.Ql.r(col("value") * 100, 0).cast("long"), col("event_type"))
      .collect().map(r => (r.getLong(0), r.getString(1)))
    val sorted = vals.sortBy(_._1)
    // average rank per tied value on the 1-based rank scale
    val rankOf = sorted.map(_._1).zipWithIndex.groupBy(_._1).view
      .mapValues(g => g.map(_._2 + 1).sum.toDouble / g.length).toMap
    val na = vals.count(_._2 == "click").toLong
    val nb = vals.length - na
    val ra = vals.filter(_._2 == "click").map(v => rankOf(v._1)).sum
    val u = ra - na.toDouble * (na + 1) / 2
    val r = SparkEntry.queries("q_mann_whitney")(spark, sf).collect().head
    assert(r.getLong(r.fieldIndex("na")) == na)
    assert(r.getLong(r.fieldIndex("nb")) == nb)
    assert(r.getLong(r.fieldIndex("u2")) == math.round(2 * u), "U2 = 2U")
  }

  test("q_decision_stump's top split equals a brute-force scan of every bucket") {
    // The query ranks splits by prefix-summed gini over the bucket grid;
    // the independent check enumerates every bucket boundary from raw
    // rows and computes the weighted impurity directly.
    val sf = "/root/testdata/sf0.001"
    val rows = Tables.lineitem(spark, sf)
      .select((operators.Ql.r(col("l_extendedprice") * 100, 0).cast("long")),
        col("l_returnflag"))
      .collect().map(r => (r.getLong(0) / 10000L, if (r.getString(1) == "R") 1L else 0L))
    val byBucket = rows.groupBy(_._1).view
      .mapValues(g => (g.length.toLong, g.map(_._2).sum)).toMap
    val buckets = byBucket.keys.toSeq.sorted
    val (n, p) = (rows.length.toLong, rows.map(_._2).sum)
    def gini(nl: Long, pl: Long): Double = {
      val (nr, pr) = (n - nl, p - pl)
      val gl = nl - (pl.toDouble * pl / nl + (nl - pl).toDouble * (nl - pl) / nl)
      val gr = nr - (pr.toDouble * pr / nr + (nr - pr).toDouble * (nr - pr) / nr)
      (gl + gr) / (nl.toDouble + nr)
    }
    var cumN = 0L; var cumP = 0L
    val scored = buckets.flatMap { b =>
      val (bn, bp) = byBucket(b); cumN += bn; cumP += bp
      if (cumN < n) Some((operators.Ql.rd(gini(cumN, cumP), 6), b)) else None
    }
    val want = scored.sortBy { case (g, b) => (g, b) }.take(3)
    val got = SparkEntry.queries("q_decision_stump")(spark, sf)
      .collect().map(r => (r.getDouble(r.fieldIndex("gini")), r.getLong(r.fieldIndex("bucket"))))
    assert(got.toSeq == want, s"${got.toSeq} vs $want")
  }

  test("q_t_closeness EMD equals a brute-force distribution walk per group") {
    // The query's cross-multiplied windowed form vs the definition:
    // build both CDFs per group directly and average the absolute gaps.
    val sf = "/root/testdata/sf0.001"
    val rows = Tables.customer(spark, sf)
      .select(col("c_nationkey"), col("c_mktsegment"),
        floor(col("c_acctbal") / 2000.0).cast("long").as("band"))
      .collect().map(r => ((r.getInt(0), r.getString(1)), r.getLong(2)))
    val bands = rows.map(_._2).distinct.sorted
    val nAll = rows.length.toLong
    val globalCum = bands.map(b => b -> rows.count(_._2 <= b).toLong).toMap
    val emds = rows.groupBy(_._1).map { case (g, members) =>
      val ng = members.length.toLong
      val gaps = bands.map { b =>
        val cumG = members.count(_._2 <= b).toLong
        math.abs(cumG.toDouble * nAll - globalCum(b).toDouble * ng)
      }
      g -> operators.Ql.rd(gaps.sum / (ng * nAll.toDouble * (bands.length - 1)), 6)
    }
    val got = SparkEntry.queries("q_t_closeness")(spark, sf)
      .collect().map(r => ((r.getInt(0), r.getString(1)), r.getDouble(r.fieldIndex("emd"))))
    got.foreach { case (g, emd) =>
      assert(math.abs(emd - emds(g)) <= 1e-9, s"$g: $emd vs ${emds(g)}")
    }
    // worst-first ordering holds
    assert(got.map(_._2).toSeq == got.map(_._2).toSeq.sortBy(-_))
  }

  test("q_bootstrap_ci: weights are valid Poisson draws and the CI brackets sanely") {
    // Structural properties that hold for ANY hash outcome: the interval
    // is ordered, the replicate count is 32, and the bootstrap mean sits
    // inside [ci_lo, ci_hi] (avg of the values whose quantiles bound it).
    val sf = "/root/testdata/sf0.001"
    val r = SparkEntry.queries("q_bootstrap_ci")(spark, sf).collect().head
    val (nReps, bootMean) = (r.getLong(r.fieldIndex("n_reps")), r.getDouble(r.fieldIndex("boot_mean")))
    val (lo, hi) = (r.getDouble(r.fieldIndex("ci_lo")), r.getDouble(r.fieldIndex("ci_hi")))
    val truth = r.getDouble(r.fieldIndex("mean_true"))
    assert(nReps == 32)
    assert(lo <= hi, s"interval ($lo, $hi) inverted")
    assert(lo <= bootMean && bootMean <= hi, "bootstrap mean outside its own CI")
    // Poisson(1) resampling keeps the replicate means near the truth:
    // at n≈1.5k orders the CI half-width is well under 10% of the mean
    assert(math.abs(bootMean - truth) < 0.1 * truth,
      s"bootstrap mean $bootMean far from truth $truth")
  }

  test("q_median_ci endpoints are the exact order statistics at the binomial ranks") {
    val sf = "/root/testdata/sf0.001"
    val byType = Tables.events(spark, sf)
      .select(col("event_type"), operators.Ql.r(col("value") * 100, 0).cast("long"))
      .collect().map(r => (r.getString(0), r.getLong(1)))
      .groupBy(_._1).view.mapValues(_.map(_._2).sorted.toIndexedSeq).toMap
    val got = SparkEntry.queries("q_median_ci")(spark, sf)
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getDouble(2), r.getDouble(3), r.getDouble(4))).toMap
    assert(got.keySet == byType.keySet)
    byType.foreach { case (t, xs) =>
      val n = xs.length
      def at(k: Long): Double = xs(math.max(0, k.toInt - 1)) / 100.0
      val kMed = math.ceil(n / 2.0).toLong
      val kLo = math.ceil(n / 2.0 - 0.98 * math.sqrt(n.toDouble)).toLong
      val kHi = math.ceil(n / 2.0 + 0.98 * math.sqrt(n.toDouble)).toLong
      val (gn, lo, med, hi) = got(t)
      assert(gn == n, s"$t n")
      assert(lo <= med && med <= hi, s"$t ordering: $lo $med $hi")
      assert(math.abs(med - operators.Ql.rd(at(kMed), 2)) <= 1e-9, s"$t median")
      assert(math.abs(lo - operators.Ql.rd(at(kLo), 2)) <= 1e-9, s"$t lo")
      assert(math.abs(hi - operators.Ql.rd(at(kHi), 2)) <= 1e-9, s"$t hi")
    }
  }

  test("q_quantile_regression losses equal a brute-force residual scan") {
    val sf = "/root/testdata/sf0.001"
    val rows = Tables.lineitem(spark, sf)
      .select(col("l_quantity").cast("long"),
        operators.Ql.r(col("l_extendedprice") * 100, 0).cast("long"))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val losses = (0 to 20).map { i =>
      val s = 50000L + i * 10000L
      s -> rows.map { case (x, y) => math.abs(y - s * x) }.sum
    }.toMap
    val got = SparkEntry.queries("q_quantile_regression")(spark, sf)
      .collect().map(r => (r.getLong(r.fieldIndex("slope")),
        r.getLong(r.fieldIndex("loss2x"))))
    // the reported top-5 must carry the exact brute-force losses AND be
    // the 5 smallest under the (loss, slope) order
    got.foreach { case (s, l) => assert(losses(s) == l, s"slope $s loss") }
    val want = losses.toSeq.map { case (s, l) => (l, s) }.sorted.take(5)
    assert(got.toSeq.map { case (s, l) => (l, s) } == want)
  }

  test("q_extreme_value Gumbel fit equals plain-scala method-of-moments") {
    val sf = "/root/testdata/sf0.001"
    val maxima = Tables.events(spark, sf)
      .groupBy(col("event_type"), to_date(col("ts")))
      .agg(max(operators.Ql.r(col("value") * 100, 0).cast("long")).as("mx"))
      .collect().map(r => r.getString(0) -> r.getLong(2))
      .groupBy(_._1).view.mapValues(_.map(_._2)).toMap
    val got = SparkEntry.queries("q_extreme_value")(spark, sf)
      .collect().map(r => r.getString(0) ->
        (r.getDouble(r.fieldIndex("gumbel_beta")),
          r.getDouble(r.fieldIndex("gumbel_mu")),
          r.getDouble(r.fieldIndex("return_level_30d")))).toMap
    maxima.foreach { case (t, xs) =>
      val n = xs.size.toDouble
      val mean = xs.sum / n
      val sd = math.sqrt((xs.map(x => x.toDouble * x).sum - n * mean * mean) / (n - 1.0))
      val beta = sd * 0.7796968012336293
      val mu = mean - 0.5772156649015329 * beta
      val ret = mu - beta * math.log(-math.log(1.0 - 1.0 / 30.0))
      val (gb, gm, gr) = got(t)
      assert(math.abs(gb - operators.Ql.rd(beta / 100.0, 4)) <= 1e-9, s"$t beta")
      assert(math.abs(gm - operators.Ql.rd(mu / 100.0, 4)) <= 1e-9, s"$t mu")
      assert(math.abs(gr - operators.Ql.rd(ret / 100.0, 2)) <= 1e-6, s"$t return level")
    }
  }

  test("q_seq_pairs support equals a brute-force subsequence scan") {
    val sf = "/root/testdata/sf0.001"
    val ev = Tables.events(spark, sf)
      .select(col("user_id"), col("event_type"), unix_micros(col("ts")))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    val byUser = ev.groupBy(_._1)
    val types = ev.map(_._2).distinct.sorted
    val got = SparkEntry.queries("q_seq_pairs")(spark, sf)
      .collect().map(r => (r.getString(0), r.getString(1)) ->
        (r.getLong(2), r.getLong(3))).toMap
    for (a <- types; b <- types if a != b) {
      val users = byUser.values.filter(es =>
        es.exists(_._2 == a) && es.exists(_._2 == b))
      val seq = users.count { es =>
        val firstA = es.filter(_._2 == a).map(_._3).min
        val lastB = es.filter(_._2 == b).map(_._3).max
        firstA < lastB // some a strictly before some b
      }
      got.get((a, b)) match {
        case Some((both, s)) =>
          assert(both == users.size, s"($a,$b) n_users_both")
          assert(s == seq, s"($a,$b) n_users_seq: $s vs $seq")
        case None => assert(users.isEmpty, s"($a,$b) missing but ${users.size} users")
      }
    }
  }

  test("q_holt_winters equals the textbook triple-smoothing recursion in plain scala") {
    // Independent re-run of the additive Holt-Winters recursion (level,
    // trend, 7 seasonal slots) over the same per-type daily means —
    // validates the aggregate() fold's state threading and slot
    // arithmetic, which the oracle (same formula text) cannot.
    val sf = "/root/testdata/sf0.001"
    val daily = Tables.events(spark, sf)
      .groupBy(org.apache.spark.sql.functions.to_date(col("ts")).as("day"),
        col("event_type"))
      .agg(operators.Ql.r(org.apache.spark.sql.functions.avg(col("value")), 6).as("x"))
      .collect().map(r => (r.getString(1), r.getDate(0).toString, r.getDouble(2)))
    val got = SparkEntry.queries("q_holt_winters")(spark, sf)
      .collect().map(r => r.getString(0) ->
        (r.getDouble(2), r.getDouble(3), r.getDouble(4))).toMap
    daily.groupBy(_._1).foreach { case (tpe, rows) =>
      val xs = rows.sortBy(_._2).map(_._3)
      if (xs.length >= 15) {
        val w1 = xs.take(7).foldLeft(0.0)(_ + _) / 7
        val w2 = xs.slice(7, 14).foldLeft(0.0)(_ + _) / 7
        var l = w1; var b = (w2 - w1) / 7
        val s = Array.tabulate(7)(i => xs(i) - w1)
        var t = 7
        xs.drop(7).foreach { x =>
          val slot = t % 7
          val sp = s(slot)
          val nl = 0.4 * (x - sp) + 0.6 * (l + b)
          val nb = 0.3 * (nl - l) + 0.7 * b
          s(slot) = 0.2 * (x - nl) + 0.8 * sp
          l = nl; b = nb; t += 1
        }
        val (gl, gb, gf1) = got(tpe)
        assert(gl == operators.Ql.rd(l, 4), s"$tpe level: $gl vs $l")
        assert(gb == operators.Ql.rd(b, 4), s"$tpe trend: $gb vs $b")
        assert(gf1 == operators.Ql.rd(l + b + s(t % 7), 4),
          s"$tpe forecast_1d")
      } else assert(!got.contains(tpe), s"$tpe under 15 days must be dropped")
    }
  }

  test("q_token_budget_plan is a valid Hamilton apportionment") {
    // The apportionment LAWS, independent of the SQL: allocations sum to
    // exactly B, and each language's share is its exact quota floored or
    // floored+1 (Hamilton's method never strays further).
    val sf = "/root/testdata/sf0.001"
    val rows = SparkEntry.queries("q_token_budget_plan")(spark, sf)
      .select("lang", "mass", "alloc").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    val b = 1000000L
    val total = rows.map(_._2).sum
    assert(rows.map(_._3).sum == b, "allocations must sum to the budget exactly")
    rows.foreach { case (lang, mass, alloc) =>
      val quotaFloor = b * mass / total
      assert(alloc == quotaFloor || alloc == quotaFloor + 1,
        s"$lang: alloc $alloc must be floor($b*$mass/$total) or +1")
    }
  }

  test("q_changepoint_binseg's first split equals a brute-force SSE scan") {
    // Independent check of the split-search algebra: recompute the daily
    // series driver-side and scan EVERY split for the two-segment SSE
    // minimizer; the query's round-1 row must name the same day.
    val sf = "/root/testdata/sf0.001"
    val daily = Tables.events(spark, sf)
      .groupBy(org.apache.spark.sql.functions.to_date(col("ts")).as("day"))
      .agg(org.apache.spark.sql.functions.sum(
        operators.Ql.r(col("value") * 100, 0).cast("long")).as("x"))
      .orderBy("day")
      .collect().map(r => (r.getDate(0).toString, r.getLong(1)))
    def sse(xs: Seq[Long]): Double = {
      val m = xs.sum.toDouble / xs.size
      xs.map(x => (x - m) * (x - m)).sum
    }
    val best = (1 until daily.length).map { k =>
      val (l, r) = daily.splitAt(k)
      (sse(daily.map(_._2)) - sse(l.map(_._2)) - sse(r.map(_._2)), daily(k - 1)._1)
    }.sortBy { case (g, d) => (-g, d) }.head // gain desc, day asc — the query's tiebreak
    val got = SparkEntry.queries("q_changepoint_binseg")(spark, sf)
      .filter(col("segment") === "full").head()
    assert(got.getString(1) == best._2,
      s"round-1 split ${got.getString(1)} vs brute-force ${best._2}")
  }

  test("convergence-loop k-truss equals brute-force peeling and outruns the 2-round unroll on a lattice") {
    import spark.implicits._
    // In-memory peeler with the same fixpoint semantics (remove every
    // edge in < k-2 triangles until a round removes nothing), counting
    // only rounds that removed something — independent machinery.
    def brute(edges: Set[(Long, Long)], k: Int): (Map[(Long, Long), Int], Int) = {
      val t = k - 2
      var e = edges
      var rounds = 0
      var done = false
      var sup = Map.empty[(Long, Long), Int]
      while (!done) {
        val adj = e.toSeq.flatMap { case (a, b) => Seq(a -> b, b -> a) }
          .groupBy(_._1).map { case (v, s) => v -> s.map(_._2).toSet }
        sup = e.map { case (a, b) => (a, b) -> (adj(a) & adj(b)).size }.toMap
        val keep = e.filter(ab => sup(ab) >= t)
        if (keep == e) done = true else { e = keep; rounds += 1 }
      }
      (sup, rounds)
    }
    // Triangulated grid patch: each unit cell (r,c) splits into the two
    // triangles {(r,c),(r,c+1),(r+1,c+1)} and {(r,c),(r+1,c),(r+1,c+1)}.
    // Interior edges sit in exactly 2 triangles, boundary edges in 1 —
    // so 4-truss peeling eats one boundary layer per round and the loop
    // must run well past the oracled q_ktruss 2-round unroll.
    def vid(r: Int, c: Int): Long = (r * 100 + c).toLong
    val R = 8; val C = 8
    val lattice: Set[(Long, Long)] = (for {
      r <- 0 to R; c <- 0 to C
      (dr, dc) <- Seq((0, 1), (1, 0), (1, 1))
      if r + dr <= R && c + dc <= C
    } yield (vid(r, c), vid(r + dr, c + dc))).toSet // vid(r,c) < vid(r+dr,c+dc)
    val e = lattice.toSeq.toDF("a", "b")
    val (sup4, rounds4) = brute(lattice, 4)
    val (got4df, gotRounds4) = operators.GraphQueries.ktrussConverged(e, 4)
    val got4 = got4df.collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2).toInt).toMap
    assert(got4 == sup4, s"4-truss survivors+support mismatch: " +
      s"got ${got4.size} edges, brute ${sup4.size}")
    assert(gotRounds4 == rounds4 && rounds4 > 2,
      s"lattice must peel in > 2 rounds (loop $gotRounds4, brute $rounds4) — " +
        "the shape the fixed 2-round unroll cannot finish")
    info(s"4-truss on the 8x8 lattice: ${got4.size} surviving edges after $gotRounds4 peel rounds")
    // k=3: removing a triangle-free edge cannot destroy a triangle, so
    // ONE peel always reaches the fixpoint — which is exactly why the
    // oracled q_ktruss 2-round unroll is exact there. Loop survivors
    // must equal the unroll's round-2 support frame on a graph with
    // triangle-free residue (pendant path off the lattice corner).
    val pend = lattice + ((vid(R, C), 10000L)) + ((10000L, 10001L))
    val pe = pend.toSeq.toDF("a", "b")
    val (got3df, gotRounds3) = operators.GraphQueries.ktrussConverged(pe, 3)
    val got3 = got3df.collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2).toInt).toMap
    val (sup3, rounds3) = brute(pend, 3)
    assert(got3 == sup3 && gotRounds3 == rounds3 && rounds3 == 1,
      s"3-truss: loop ($gotRounds3 rounds, ${got3.size} edges) vs " +
        s"brute ($rounds3 rounds, ${sup3.size} edges)")
    val e1 = operators.GraphQueries.edgeSupport(pe)
      .filter(col("sup") >= 1).select("a", "b")
    val unroll = operators.GraphQueries.edgeSupport(e1).filter(col("sup") >= 1)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2).toInt).toMap
    assert(got3 == unroll, "k=3 loop must equal the q_ktruss 2-round unroll exactly")
  }

  test("q_nelson_aalen equals the sequential d/n hazard sum at sf0.001") {
    // The query computes H(h) through a theta-join aggregation shared
    // with q_kaplan_meier; the independent check is the DEFINITION:
    // walk event days sequentially and add d_t/n_t literally.
    val sf = "/root/testdata/sf0.001"
    val rows = Tables.events(spark, sf)
      .select(col("user_id"), col("event_type"), to_date(col("ts")).as("day"))
      .collect()
      .map(r => (r.getLong(0), r.getString(1), r.getDate(2).toLocalDate))
    val maxd = rows.map(_._3).max
    val obs = rows.groupBy(_._1).values.map { es =>
      val d0 = es.map(_._3).min
      val dp = es.filter(_._2 == "purchase").map(_._3) match {
        case e if e.isEmpty => None
        case e => Some(e.min)
      }
      val t = dp.map(p => java.time.temporal.ChronoUnit.DAYS.between(d0, p))
        .getOrElse(java.time.temporal.ChronoUnit.DAYS.between(d0, maxd))
      (t, dp.isDefined)
    }.toSeq
    val deaths = obs.filter(_._2).groupBy(_._1).view.mapValues(_.size).toMap
    val got = SparkEntry.queries("q_nelson_aalen")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getDouble(3)))
    assert(got.map(_._1).toSeq == Seq(1L, 3L, 7L, 14L, 30L))
    got.foreach { case (h, nDays, haz, fh) =>
      val ts = deaths.keys.toSeq.sorted.filter(_ <= h)
      assert(nDays == ts.size, s"n_event_days at h=$h")
      val brute = ts.map(t => deaths(t).toDouble / obs.count(_._1 >= t)).sum
      assert(math.abs(haz - operators.Ql.rd(brute, 6)) <= 1e-6,
        s"cum_hazard at h=$h: $haz vs brute $brute")
      assert(math.abs(fh - operators.Ql.rd(math.exp(-haz), 6)) <= 1e-6,
        s"fh_survival at h=$h")
    }
  }

  test("q_benjamini_hochberg implements the exact step-up rule") {
    // Independent of the p-value formula: given the reported p's, the
    // BH decision must be EXACTLY max{k : p_(k) <= k·α/m} applied to
    // every rank — brute-forced here over the collected grid; plus the
    // structural laws (ranks are a permutation consistent with
    // ascending p; p decreases in |z|; thresholds are k·α/m).
    val sf = "/root/testdata/sf0.001"
    val rows = SparkEntry.queries("q_benjamini_hochberg")(spark, sf).collect()
      .map(r => (r.getString(0), r.getString(1), r.getDouble(2),
        r.getDouble(3), r.getLong(4), r.getDouble(5), r.getInt(6)))
    val m = rows.length
    assert(m >= 3, "expected a multi-pair comparison grid")
    val byK = rows.sortBy(_._5)
    assert(byK.map(_._5).toSeq == (1L to m).map(_.toLong),
      "ranks must be a permutation of 1..m")
    assert(byK.toSeq.sliding(2).forall {
      case Seq(a, b) => a._4 <= b._4 + 1e-12
      case _ => true
    }, "rank order must follow ascending p")
    byK.foreach(t => assert(
      math.abs(t._6 - operators.Ql.rd(t._5 * 0.05 / m, 6)) <= 1e-9,
      s"bh_threshold at k=${t._5}"))
    val kmax = byK.filter(t => t._4 <= t._6).map(_._5)
      .reduceOption(_ max _).getOrElse(0L)
    rows.foreach(t => assert((t._5 <= kmax) == (t._7 == 1),
      s"sig_bh at (${t._1}, ${t._2})"))
    rows.foreach(t => assert(t._4 >= 0.0 && t._4 <= 1.0, "p in [0,1]"))
    val byZ = rows.sortBy(t => math.abs(t._3))
    assert(byZ.toSeq.sliding(2).forall {
      case Seq(a, b) => a._4 >= b._4 - 1e-9
      case _ => true
    }, "p must be non-increasing in |z|")
  }

  test("q_bradley_terry equals a plain-JVM MM fixed point from the daily counts") {
    // Rebuild the win/game matrix and run the same 8 MM rounds (with
    // the same per-round Ql.rd(…,7) rounding and min-type anchor) in
    // plain Scala — only the float-sum order can differ, so ratings
    // must agree to a 4 dp ulp and the integer fields exactly.
    val sf = "/root/testdata/sf0.001"
    val daily = Tables.events(spark, sf)
      .groupBy(to_date(col("ts")).as("day"), col("event_type"))
      .agg(count(lit(1)).as("c"))
      .collect().map(r => (r.getDate(0).toString, r.getString(1), r.getLong(2)))
    val w = scala.collection.mutable.Map[(String, String), Long]().withDefaultValue(0L)
    val n = scala.collection.mutable.Map[(String, String), Long]().withDefaultValue(0L)
    for {
      (_, es) <- daily.groupBy(_._1)
      a <- es; b <- es
      if a._2 != b._2 && a._3 != b._3
    } {
      n((a._2, b._2)) += 1
      if (a._3 > b._3) w((a._2, b._2)) += 1
    }
    val types = n.keys.map(_._1).toSeq.distinct.sorted
    val wins = types.map(t => t -> types.filter(_ != t).map(o => w((t, o))).sum).toMap
    val games = types.map(t => t -> types.filter(_ != t).map(o => n((t, o))).sum).toMap
    var p = types.map(_ -> 1.0).toMap
    for (_ <- 1 to 8) {
      val u = types.map { i =>
        val den = types.filter(j => j != i && n((i, j)) > 0)
          .map(j => n((i, j)).toDouble / (p(i) + p(j))).sum
        i -> wins(i).toDouble / den
      }.toMap
      val ap = math.max(u(types.min), 1e-12)
      p = u.map { case (t, v) => t -> operators.Ql.rd(v / ap, 7) }
    }
    val got = SparkEntry.queries("q_bradley_terry")(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(got.map(_._1).toSet == types.toSet)
    got.foreach { case (t, g, ws, rating) =>
      assert(g == games(t), s"games($t)")
      assert(ws == wins(t), s"wins($t)")
      assert(math.abs(rating - operators.Ql.rd(p(t), 4)) <= 2e-4,
        s"rating($t): $rating vs JVM ${p(t)}")
    }
  }

  test("q_good_turing equals brute-force frequency-of-frequencies at sf0.001") {
    val sf = "/root/testdata/sf0.001"
    val texts = Tables.documents(spark, sf).select("text").collect()
      .map(_.getString(0))
    val counts = scala.collection.mutable.Map[String, Long]().withDefaultValue(0L)
    for {
      t <- texts
      toks = t.split(" ")
      if toks.length >= 5
      i <- 0 to toks.length - 5
    } counts(toks.slice(i, i + 5).mkString(" ")) += 1
    val hist = counts.values.groupBy(identity).view.mapValues(_.size.toLong).toMap
    val nTok = counts.values.sum
    val n1 = hist.getOrElse(1L, 0L)
    val got = SparkEntry.queries("q_good_turing")(spark, sf).collect()
    assert(got.map(_.getLong(0)).toSet == hist.keys.filter(_ <= 10).toSet,
      "histogram head rows")
    got.foreach { r =>
      val (rr, nr, nn) = (r.getLong(0), r.getLong(1), r.getLong(2))
      assert(nr == hist(rr), s"N_r at r=$rr")
      assert(nn == hist.getOrElse(rr + 1, 0L), s"N_{r+1} at r=$rr")
      if (nn == 0) assert(r.isNullAt(3), s"r* must be NULL when N_{r+1}=0")
      else assert(math.abs(r.getDouble(3) -
        operators.Ql.rd((rr + 1) * nn.toDouble / nr, 4)) <= 1e-9, s"r* at r=$rr")
      assert(math.abs(r.getDouble(4) -
        operators.Ql.rd(n1.toDouble / nTok, 6)) <= 1e-9, "p_unseen")
    }
  }

  test("q_shapley_attribution satisfies efficiency against a brute-force game") {
    // Rebuild the coalition game from raw events in plain Scala, compute
    // every channel's Shapley value by the literal permutation average,
    // and check the query's values AND the efficiency law
    // Σφ = v(grand) − v(∅).
    val sf = "/root/testdata/sf0.001"
    val rows = Tables.events(spark, sf)
      .select(col("user_id"), col("event_type"), unix_micros(col("ts")).as("us"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    val bits = Map("click" -> 1L, "view" -> 2L, "signup" -> 4L)
    val firstP = rows.filter(_._2 == "purchase").groupBy(_._1)
      .view.mapValues(_.map(_._3).min).toMap
    val maskOf = rows.groupBy(_._1).collect {
      case (u, es) if firstP.contains(u) =>
        u -> es.filter(e => e._3 < firstP(u) && bits.contains(e._2))
          .map(e => bits(e._2)).distinct.sum
    }
    val nT = firstP.keys.toSeq.map(u => maskOf.getOrElse(u, 0L))
      .groupBy(identity).view.mapValues(_.size.toLong).toMap
    def v(s: Long): Long = nT.filter { case (m, _) => (m & s) == m }.values.sum
    val w6 = Map(0 -> 2L, 1 -> 1L, 2 -> 2L)
    val phi6 = bits.map { case (ch, bit) =>
      ch -> (0L to 7L).filter(s => (s & bit) == 0)
        .map(s => w6(java.lang.Long.bitCount(s)) * (v(s | bit) - v(s))).sum
    }
    assert(phi6.values.sum == 6 * (v(7) - v(0)),
      "efficiency: 6·Σφ must equal 6·(v(grand) − v(∅))")
    val got = SparkEntry.queries("q_shapley_attribution")(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2), r.getDouble(3)))
    assert(got.map(_._1).toSet == bits.keySet)
    got.foreach { case (ch, conv, shap, _) =>
      assert(conv == v(7), s"conversions($ch)")
      assert(math.abs(shap - operators.Ql.rd(phi6(ch) / 6.0, 4)) <= 1e-9,
        s"shapley($ch): $shap vs brute ${phi6(ch) / 6.0}")
    }
  }

  test("q_kneser_ney equals a plain-JVM interpolated-KN scorer at sf0.001") {
    // Full independent reimplementation: rebuild the hash split, the
    // bigram/continuation tables, and the interpolated-KN probability in
    // plain Scala with the same left-associated arithmetic; micro-unit
    // NLL sums are exact integers, so per-lang counts and mean NLL must
    // match to an ulp of the final 6 dp rounding.
    val sf = "/root/testdata/sf0.001"
    def bucket(id: Long): Int = {
      val hex = java.security.MessageDigest.getInstance("MD5")
        .digest(id.toString.getBytes("UTF-8"))
        .take(2).map(b => f"$b%02x").mkString
      java.lang.Integer.parseInt(hex, 16) % 100
    }
    val docs = Tables.documents(spark, sf).select("doc_id", "lang", "text")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2)))
    def bgs(t: String): Seq[(String, String)] = {
      val k = t.split(" ")
      if (k.length < 2) Seq.empty else k.sliding(2).map(a => (a(0), a(1))).toSeq
    }
    val c12 = scala.collection.mutable.Map[(String, String), Long]().withDefaultValue(0L)
    for (d <- docs if bucket(d._1) < 80; bg <- bgs(d._3)) c12(bg) += 1
    val c1 = c12.toSeq.groupBy(_._1._1).view.mapValues(_.map(_._2).sum).toMap
    val nfw = c12.toSeq.groupBy(_._1._1).view.mapValues(_.size.toLong).toMap
    val nbw = c12.toSeq.groupBy(_._1._2).view.mapValues(_.size.toLong).toMap
    val bt = c12.size.toLong
    val v = (c12.keys.map(_._1) ++ c12.keys.map(_._2)).toSet.size.toLong
    val sums = scala.collection.mutable.Map[String, (Long, Long, Long)]()
      .withDefaultValue((0L, 0L, 0L))
    for (d <- docs if bucket(d._1) >= 80; bg <- bgs(d._3)) {
      val pcont = (nbw.getOrElse(bg._2, 0L) + 0.5) / (bt + 0.5 * v)
      val (p, oov) = c1.get(bg._1) match {
        case None => (pcont, 1L)
        case Some(h) =>
          (math.max(c12.getOrElse(bg, 0L) - 0.75, 0.0) / h
            + (0.75 * nfw(bg._1) / h) * pcont, 0L)
      }
      val nllU = operators.Ql.rd(-math.log(p) * 1000000, 0).toLong
      val (cn, co, cs) = sums(d._2)
      sums(d._2) = (cn + 1, co + oov, cs + nllU)
    }
    val got = SparkEntry.queries("q_kneser_ney")(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getDouble(3), r.getDouble(4)))
    assert(got.map(_._1).toSet == sums.keySet)
    got.foreach { case (lang, nb, noov, meanNll, ppl) =>
      val (cn, co, cs) = sums(lang)
      assert(nb == cn, s"n_bigrams($lang)")
      assert(noov == co, s"n_oov_ctx($lang)")
      assert(math.abs(meanNll - operators.Ql.rd(cs / 1e6 / cn, 6)) <= 1e-6,
        s"mean_nll($lang): $meanNll vs JVM ${cs / 1e6 / cn}")
      assert(math.abs(ppl - operators.Ql.rd(math.exp(meanNll), 4)) <= 1e-4,
        s"perplexity($lang)")
    }
  }

  test("q_dsir_selection equals a plain-JVM hashed-bigram importance scorer at sf0.001") {
    // the DSIR model (add-1 multinomial log-ratio over 10k hash buckets)
    // and the exact-integer doc scoring, reimplemented independently in
    // plain scala: same md5-prefix feature hash, same micro-unit rounding
    val sf = "/root/testdata/sf0.001"
    def feat(bg: String): Long = {
      val md = java.security.MessageDigest.getInstance("MD5")
      val hex = md.digest(bg.getBytes("UTF-8")).map("%02x".format(_)).mkString
      java.lang.Long.parseLong(hex.take(14), 16) % 10000L
    }
    val docs = Tables.documents(spark, sf)
      .select("doc_id", "text", "lang").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2)))
      .filter(_._2.split(" ").length >= 2)
    def feats(text: String): Seq[Long] = {
      val t = text.split(" ")
      (0 until t.length - 1).map(i => feat(t(i) + " " + t(i + 1)))
    }
    val tgt = scala.collection.mutable.Map[Long, Long]().withDefaultValue(0L)
    val raw = scala.collection.mutable.Map[Long, Long]().withDefaultValue(0L)
    docs.foreach { case (_, text, lang) =>
      val m = if (lang == "en") tgt else raw
      feats(text).foreach(f => m(f) += 1)
    }
    val (nT, nR) = (tgt.values.sum.toDouble, raw.values.sum.toDouble)
    def lrMicro(f: Long): Long = operators.Ql.rd(
      (math.log((tgt(f) + 1.0) / (nT + 10000.0)) -
        math.log((raw(f) + 1.0) / (nR + 10000.0))) * 1e6, 0).toLong
    val expect = docs.filter(_._3 != "en").map { case (id, text, _) =>
      val fs = feats(text)
      (id, fs.length.toLong, fs.map(lrMicro).sum)
    }.sortBy { case (id, _, s) => (-s, id) }.take(20)
    val got = SparkEntry.queries("q_dsir_selection")(spark, sf)
      .select("doc_id", "n_bigrams", "score_micro").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(got.toSeq == expect.toSeq,
      s"top-20 mismatch:\n got ${got.take(5).mkString(",")}\n exp ${expect.take(5).mkString(",")}")
  }

  test("q_proto_pruning satisfies the pruning laws per cluster") {
    // the exact-quantile-by-bucket cut's guarantees, asserted on the
    // query's own output: volumes reconcile, the drop meets (and only
    // overshoots by bucket ties) the ceil(0.3 n) target, and the
    // threshold separates the kept/dropped prototypicality means
    val rows = SparkEntry.queries("q_proto_pruning")(spark, "/root/testdata/sf0.001")
      .collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (n, tgtD, nd, nk) = (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))
      val thr = r.getDouble(5)
      assert(tgtD == (3 * n + 9) / 10, s"target_drop law at cluster ${r.get(0)}")
      assert(nd + nk == n, s"volume reconciliation at cluster ${r.get(0)}")
      assert(nd >= tgtD, s"drop must reach the target at cluster ${r.get(0)}")
      val meanDrop = r.getDouble(6)
      assert(meanDrop >= thr - 1e-9,
        s"dropped mean below threshold at cluster ${r.get(0)}")
      if (!r.isNullAt(7))
        assert(r.getDouble(7) < thr + 1e-9,
          s"kept mean at/above threshold at cluster ${r.get(0)}")
    }
  }

  test("q_dedup_chain_risk flags the planted chains and clears the pure near-dup pairs") {
    // plants 400000/410000+seed build A—B—C chains whose stub wins the
    // longest-canonical rule: those clusters MUST report transitive
    // members; the plain first-token-edit plants (ids 100003..100009 in
    // pair clusters) MUST score as direct merges
    val rows = SparkEntry.queries("q_dedup_chain_risk")(spark, "/root/testdata/sf0.001")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4))).toSeq
    (0L to 2L).foreach { s =>
      // a chain plant (the padded copy or the stub, whichever is longer
      // for this seed) must win the canonical, and the far end of the
      // chain must be flagged transitive
      val cl = rows.filter(r => r._3 == 400000L + s || r._3 == 410000L + s)
      assert(cl.nonEmpty, s"chain cluster of seed $s must elect a chain plant as canonical")
      assert(cl.head._5 >= 1, s"chain cluster of seed $s must flag a transitive member")
    }
    val pairPure = rows.filter(r => r._2 == 2 &&
      ((r._3 >= 3 && r._3 < 10) || (r._3 >= 100003L && r._3 <= 100009L)))
    assert(pairPure.nonEmpty, "expected pure near-dup pair clusters for seeds 3..9")
    pairPure.foreach { r =>
      assert(r._4 == 1 && r._5 == 0,
        s"pure near-dup pair ${r._1} must be a direct merge, got $r")
    }
  }
}
