package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.ops.{Dedup, Sketches}

/** KLL quantile sketch + Misra-Gries heavy hitters + exact-substring
  * dedup: local guarantee properties, merge-tree invariance, and Spark
  * parity against brute-force on the fixture. */
class SketchSpec extends AnyFunSuite with SparkSpecBase {
  import spark.implicits._

  // ---- KllSketch -----------------------------------------------------

  private def rankOf(sorted: Array[Double], v: Double): (Long, Long) = {
    val lo = sorted.count(_ < v).toLong
    val hi = sorted.count(_ <= v).toLong
    (lo, hi)
  }

  private def assertRankBound(sk: Sketches.KllSketch, data: Array[Double],
                              eps: Double): Unit = {
    val sorted = data.sorted
    for (p <- Seq(0.01, 0.1, 0.25, 0.5, 0.75, 0.9, 0.99)) {
      val est = sk.quantile(p)
      val (lo, hi) = rankOf(sorted, est)
      val n = data.length.toDouble
      assert(p >= lo / n - eps && p <= hi / n + eps,
        s"p=$p est=$est rank=[$lo,$hi] n=$n")
    }
  }

  test("KLL rank error stays within the deterministic bound (sequential)") {
    // adversarial-ish orders: sorted, reversed, interleaved
    val n = 20000
    val asc = Array.tabulate(n)(i => i.toDouble)
    val desc = asc.reverse
    val mix = Array.tabulate(n)(i => ((i * 7919) % n).toDouble)
    for (data <- Seq(asc, desc, mix)) {
      val sk = new Sketches.KllSketch(256)
      data.foreach(sk.insert)
      assert(sk.n == n)
      assertRankBound(sk, data, 0.03)
    }
  }

  test("KLL merge tree preserves the bound and the exact count") {
    val n = 30000
    val data = Array.tabulate(n)(i => math.sin(i.toDouble) * 1000)
    // 8-way split merged pairwise (balanced tree), plus a skewed
    // fold-left merge — both must respect the mergeable-summaries bound
    def build(xs: Array[Double]): Sketches.KllSketch = {
      val s = new Sketches.KllSketch(256); xs.foreach(s.insert); s
    }
    val parts = data.grouped(n / 8 + 1).map(build).toSeq
    val folded = parts.map(identity).reduceLeft((a, b) => a.merge(b))
    assert(folded.n == n)
    assertRankBound(folded, data, 0.05)
  }

  test("KLL handles duplicates and tiny inputs") {
    val sk = new Sketches.KllSketch(64)
    Seq(5.0, 5.0, 5.0, 1.0).foreach(sk.insert)
    assert(sk.quantile(0.5) == 5.0)
    assert(sk.quantile(0.01) == 1.0)
    val one = new Sketches.KllSketch(64)
    one.insert(42.0)
    assert(one.quantile(0.99) == 42.0)
  }

  // ---- MisraGries ----------------------------------------------------

  test("Misra-Gries retains every item above n/(k+1) across merge trees") {
    // 3 heavy items on a long-tail background, k small enough to stress
    val heavy = Seq.fill(400)("a") ++ Seq.fill(300)("b") ++ Seq.fill(250)("c")
    val tail = (0 until 1000).map(i => s"t$i")
    val data = scala.util.Random.shuffle(heavy ++ tail) // fixed-seed not needed: guarantee is worst-case
    val n = data.length
    val k = 7
    def build(xs: Seq[String]): Sketches.MisraGries = {
      val m = new Sketches.MisraGries(k); xs.foreach(m.insert); m
    }
    val whole = build(data)
    val split = data.grouped(n / 5 + 1).map(build).reduceLeft((a, b) => a.merge(b))
    for (mg <- Seq(whole, split)) {
      assert(mg.n == n)
      val kept = mg.items.toMap
      for (h <- Seq("a", "b", "c")) {
        assert(kept.contains(h), s"heavy $h lost (k=$k, n=$n)")
        // undercount bounded by n/(k+1)
        val trueC = data.count(_ == h).toLong
        assert(kept(h) <= trueC && kept(h) >= trueC - n / (k + 1))
      }
      assert(mg.items.size <= k)
    }
  }

  test("q61 candidate chain is exact on the fixture") {
    // the sketch candidates must be a superset of the true >0.5% tokens
    val toks = Tables.documents(spark, sfSmoke)
      .select(explode(graft.functions.TextFunctions.tokens($"text")).as("w"))
    val exact = toks.groupBy($"w").agg(count(lit(1)).as("c"))
    val n = toks.count()
    val truth = exact.filter($"c" > n * 0.005).select("w").as[String]
      .collect().toSet
    val (sn, cands) = toks.as[String]
      .select(new Sketches.MisraGriesAgg(512).toColumn.name("mg")).head()
    assert(sn == n)
    val candSet = cands.map(_._1).toSet
    assert(truth.subsetOf(candSet), s"missing: ${truth -- candSet}")
    val got = graft.queries.SketchQueries.q61HeavyHitters(spark, sfSmoke)
      .select("w").as[String].collect().toSet
    assert(got == truth)
  }

  test("q59 validation flags are all true on the fixture") {
    val rows = graft.queries.SketchQueries.q59QuantileSketch(spark, sfSmoke)
      .collect()
    assert(rows.nonEmpty)
    assert(rows.forall(_.getBoolean(3)), "a quantile estimate broke its bound")
  }

  // ---- HyperLogLog ---------------------------------------------------

  test("HLL estimates within tolerance across cardinalities and merges") {
    def h(x: Long): Long = { // splitmix64 — well-mixed stand-in for xxhash64
      var z = x + 0x9e3779b97f4a7c15L
      z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
      z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
      z ^ (z >>> 31)
    }
    for (card <- Seq(100, 5000, 200000)) {
      val whole = new Sketches.HyperLogLog(13)
      (0 until card).foreach(i => whole.insertHash(h(i.toLong)))
      // duplicates must not move the estimate
      (0 until card by 3).foreach(i => whole.insertHash(h(i.toLong)))
      val err = math.abs(whole.estimate - card).toDouble / card
      assert(err <= 0.04, s"card=$card est=${whole.estimate} err=$err")
      // merge of 4 disjoint shards == whole-stream sketch, register-exact
      val shards = (0 until 4).map { s =>
        val sk = new Sketches.HyperLogLog(13)
        (s until card by 4).foreach(i => sk.insertHash(h(i.toLong)))
        sk
      }
      val merged = shards.reduceLeft((a, b) => a.merge(b))
      assert(java.util.Arrays.equals(merged.regs, whole.regs))
    }
  }

  test("q62 validation flags are all true on the fixture") {
    val rows = graft.queries.SketchQueries.q62CardinalitySketch(spark, sfSmoke)
      .collect()
    assert(rows.length == 4)
    assert(rows.forall(_.getBoolean(2)),
      rows.map(r => s"${r.getString(0)} exact=${r.getLong(1)} ok=${r.getBoolean(2)}")
        .mkString("; "))
  }

  // ---- weightedSample ------------------------------------------------

  test("weightedSample is deterministic, weight-monotone in expectation, exact-gated") {
    val docs = Tables.documents(spark, sfSmoke)
    val got = graft.queries.AdvancedQueries.q63WeightedSample(spark, sfSmoke)
      .as[(Long, Long)].collect()
    val again = graft.queries.AdvancedQueries.q63WeightedSample(spark, sfSmoke)
      .as[(Long, Long)].collect()
    assert(got.sameElements(again)) // pure function of rows
    val n = docs.count()
    assert(got.length > 0 && got.length < n)
    // local replay of the exact integer gate
    val rows = docs.select($"doc_id", $"text", $"n_chars")
      .as[(Long, String, Long)].collect()
    val totalW = rows.map(_._3).sum
    def ph(s: String): Long =
      s.foldLeft(0L)((acc, c) => (acc * 31 + c.toInt) % 4294967296L)
    val expect = rows.filter { case (_, t, w) =>
      BigInt(ph(t + "ws1") % 10000L) * BigInt(totalW) <
        BigInt(150L) * BigInt(w) * BigInt(10000L)
    }.map(r => (r._1, r._3)).sortBy(_._1)
    assert(got.toSeq == expect.toSeq)
  }

  // ---- substringPairs ------------------------------------------------

  test("CharWindows matches the staged HOF form, incl. unicode and SQL") {
    val docs = Tables.documents(spark, sfSmoke).select($"text")
      .union(Seq("短い", "日本語のテキストです、これはウィンドウ検査",
        "emoji 😀 mixed éè text here padded out", "")
        .toDF("text"))
    val L = 12
    val staged = docs.select(array_distinct(
      when(length($"text") >= L,
        transform(sequence(lit(1), length($"text") - (L - 1)),
          i => substr($"text", i, lit(L))))
        .otherwise(array().cast("array<string>"))).as("w"))
      .collect().map(_.getSeq[String](0).sorted)
    val fused = docs.select(
      graft.functions.ShingleExpressions.charWindows($"text", L).as("w"))
      .collect().map(_.getSeq[String](0).sorted)
    assert(staged.length == fused.length)
    staged.zip(fused).foreach { case (a, b) => assert(a == b) }
    // SQL registration
    val viaSql = spark.sql("SELECT size(graft_char_windows('hello world!', 5)) AS n")
      .head().getInt(0)
    assert(viaSql == 8)
  }

  test("CharWindowHashPos: hashes+positions reconstruct charWindows exactly") {
    val docs = Tables.documents(spark, sfSmoke).select($"text").limit(200)
      .union(Seq("短い", "日本語のテキストです、これはウィンドウ検査",
        "emoji 😀 mixed éè text here padded out", "")
        .toDF("text"))
    val L = 12
    // resolve each (h, pos) back to its window text via substr: the
    // reconstructed set must equal the string kernel's distinct windows,
    // and every h must equal xxhash64 of its window
    val rows = docs.select($"text",
        explode(graft.functions.ShingleExpressions.charWindowHashPos($"text", L)).as("w"))
      .select($"text".substr($"w.pos", lit(L)).as("sub"), $"w.h".as("h"),
        xxhash64($"text".substr($"w.pos", lit(L))).as("hx"))
      .collect()
    assert(rows.nonEmpty)
    rows.foreach(r => assert(r.getLong(1) == r.getLong(2), r.getString(0)))
    val rebuilt = docs.select($"text",
        explode(graft.functions.ShingleExpressions.charWindowHashPos($"text", L)).as("w"))
      .groupBy($"text").agg(sort_array(collect_list($"text".substr($"w.pos", lit(L)))).as("ws"))
    val straight = docs.filter(length($"text") >= L).select($"text",
        sort_array(graft.functions.ShingleExpressions.charWindows($"text", L)).as("ws"))
    assert(rebuilt.join(straight, Seq("text"))
      .filter(rebuilt("ws") =!= straight("ws")).isEmpty)
    // SQL registration
    val viaSql = spark.sql(
      "SELECT size(graft_char_window_hashes('hello world!', 5)) AS n")
      .head().getInt(0)
    assert(viaSql == 8)
  }

  test("substringPairs matches brute force and respects the df cap") {
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog tonight"),
      (2L, "xx the quick brown fox jumps over the lazy dog today"),
      (3L, "completely unrelated text with no shared windows at all"),
      (4L, "short")).toDF("doc_id", "text")
    val L = 20
    val got = Dedup.substringPairs(docs, "doc_id", "text", L)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getLong(2))).toMap
    // brute force in scala
    def wins(s: String) = (0 to s.length - L).map(i => s.substring(i, i + L)).toSet
    val texts = Map(1L -> "the quick brown fox jumps over the lazy dog tonight",
      2L -> "xx the quick brown fox jumps over the lazy dog today",
      3L -> "completely unrelated text with no shared windows at all",
      4L -> "short")
    val expect = (for {
      a <- texts.keys; b <- texts.keys if a < b
      shared = if (texts(a).length >= L && texts(b).length >= L)
        (wins(texts(a)) intersect wins(texts(b))).size else 0
      if shared > 0
    } yield ((a, b), shared.toLong)).toMap
    assert(got == expect)
    assert(expect.contains((1L, 2L))) // sanity: fixture does overlap
    // cap=1 removes every window shared by 2+ docs → no pairs survive
    val capped = Dedup.substringPairs(docs, "doc_id", "text", L, maxDf = Some(1))
    assert(capped.isEmpty)
  }

  test("sketch aggregates are SQL-reachable via register()") {
    Tables.documents(spark, sfSmoke).createOrReplaceTempView("sk_docs")
    val hll = spark.sql(
      "SELECT graft_hll_distinct(xxhash64(text)) FROM sk_docs").head().getLong(0)
    val exact = Tables.documents(spark, sfSmoke).select("text").distinct().count()
    assert(math.abs(hll - exact).toDouble / exact <= 0.05, s"hll=$hll exact=$exact")
    val mg = spark.sql(
      "SELECT graft_mg_heavy_hitters(w)._1 FROM " +
      "(SELECT explode(graft_tokens(text)) AS w FROM sk_docs)").head().getLong(0)
    assert(mg > 0)
  }

  test("q65 streaming HLL equals batch HLL and stays within tolerance") {
    val rows = graft.queries.PipelineQueries.q65StreamCardinality(spark, sfSmoke)
      .collect()
    assert(rows.nonEmpty)
    assert(rows.forall(_.getBoolean(2)),
      rows.map(r => s"${r.getString(0)}: ok=${r.getBoolean(2)}").mkString("; "))
  }

  test("q66 chunking matches a local tokenizer replay") {
    val got = graft.queries.TextQueries.q66Chunk(spark, sfSmoke)
      .as[(Long, Long, Long, Long)].collect()
    val docs = Tables.documents(spark, sfSmoke)
      .select($"doc_id", $"text").as[(Long, String)].collect()
    def ph(s: String): Long =
      s.foldLeft(0L)((acc, c) => (acc * 31 + c.toInt) % 4294967296L)
    val expect = docs.flatMap { case (id, text) =>
      val ws = text.toLowerCase.split("\\s+").filter(_.nonEmpty)
      if (ws.isEmpty) Nil
      else (0 until ws.length by 40).zipWithIndex.map { case (start, ci) =>
        val chunk = ws.slice(start, start + 50)
        (id, ci.toLong, chunk.length.toLong, ph(chunk.mkString(" ")))
      }
    }.sortBy(r => (r._1, r._2))
    assert(got.toSeq == expect.toSeq)
    // overlap invariant: consecutive chunks of a long doc share 10 tokens
    val long = expect.groupBy(_._1).filter(_._2.length > 1)
    assert(long.nonEmpty, "fixture has no multi-chunk docs")
  }

  test("q69 one-pass profile: all sketch claims hold per source") {
    val rows = graft.queries.SketchQueries.q69Profile(spark, sfSmoke).collect()
    assert(rows.nonEmpty)
    assert(rows.forall(_.getBoolean(3)),
      rows.map(r => s"${r.getString(0)} ok=${r.getBoolean(3)}").mkString(";"))
  }

  test("q60 json extraction matches a local parse") {
    val rows = graft.queries.AdvancedQueries.q60JsonExtract(spark, sfSmoke)
      .collect()
    assert(rows.nonEmpty)
    val ev = Tables.events(spark, sfSmoke)
      .select($"event_type", $"props").as[(String, String)].collect()
    val kRe = """"k"\s*:\s*(-?\d+)""".r
    val grouped = ev.groupBy(_._1).map { case (et, xs) =>
      val ks = xs.map(x => kRe.findFirstMatchIn(x._2).get.group(1).toLong)
      et -> ((xs.length.toLong, ks.sum, ks.min, ks.max))
    }
    rows.foreach { r =>
      val (n, s, mn, mx) = grouped(r.getString(0))
      assert(r.getLong(1) == n && r.getLong(2) == s &&
        r.getLong(3) == mn && r.getLong(4) == mx)
    }
  }

  test("q121 streaming heavy hitters equals the batch q61 result (MG merge-order-free recall)") {
    val stream = graft.queries.PipelineQueries
      .q121StreamHeavyHitters(spark, sfSmoke)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    val batch = graft.queries.SketchQueries
      .q61HeavyHitters(spark, sfSmoke)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(stream == batch, s"stream $stream vs batch $batch")
    assert(stream.nonEmpty)
  }

  // ---- CountMin ------------------------------------------------------

  test("CountMin never under-counts, and merge trees equal sequential") {
    val rnd = new scala.util.Random(7)
    // zipf-ish: item i appears ~ N/(i+1) times, shuffled
    val items = rnd.shuffle(
      (0 until 200).flatMap(i => Seq.fill(2000 / (i + 1))(s"tok$i")).toVector)
    val hashes = items.map(s =>
      graft.functions.HashKernels.polyHash32(
        org.apache.spark.unsafe.types.UTF8String.fromString(s)))
    val exact = hashes.groupBy(identity).view.mapValues(_.size.toLong).toMap

    val seq = new Sketches.CountMin(4, 256)
    hashes.foreach(seq.insertHash)
    // merge tree: 7 uneven chunks merged pairwise in arbitrary order
    val chunks = hashes.grouped(hashes.size / 7 + 1).map { c =>
      val s = new Sketches.CountMin(4, 256); c.foreach(s.insertHash); s
    }.toVector
    val merged = chunks.reduceRight((a, b) => b.merge(a))
    assert(seq.counts.toSeq == merged.counts.toSeq,
      "counter matrices must be identical under any merge order")

    val n = items.size
    exact.foreach { case (h, c) =>
      val est = seq.estimate(h)
      assert(est >= c, s"CMS must never under-count: est $est < exact $c")
      // standard guarantee: est <= exact + e/w * N with prob 1-(1/2)^d;
      // assert a loose deterministic-ish 8x margin on the fixture
      assert(est <= c + 8.0 * math.E / 256 * n,
        s"est $est way past exact $c + eps*N")
    }
  }

  test("q157 one-sided error holds for EVERY token at sf0.001, not just top-20") {
    // rebuild the q157 sketch path but evaluate all tokens
    import graft.functions.HashExpressions.polyHash32
    val cmU = udaf(new Sketches.CountMinAgg(4, 256),
      org.apache.spark.sql.Encoders.scalaLong)
    val toks = graft.Tables.documents(spark, sfSmoke)
      .select(explode(graft.functions.TextFunctions.tokens($"text")).as("w"))
      .select($"w", polyHash32($"w").as("h"))
    val counts = toks.agg(cmU($"h")).as[Seq[Long]].head.toArray
    val cm = new Sketches.CountMin(4, 256)
    Array.copy(counts, 0, cm.counts, 0, counts.length)
    val exact = toks.groupBy($"w", $"h").count()
      .collect().map(r => (r.getLong(1), r.getLong(2)))
    assert(exact.nonEmpty)
    exact.foreach { case (h, c) =>
      assert(cm.estimate(h) >= c, s"under-count at h=$h")
    }
  }

  test("q155 TopKScore cell cap == the row_number window form") {
    import org.apache.spark.sql.expressions.Window
    val emb = graft.Tables.embeddings(spark, sfSmoke)
    val cells = emb.select($"vec_id".cast("long").as("vec_id"),
      element_at(graft.functions.HashExpressions.hyperplaneSigs(
        $"embedding", 6, 64, 1), 1).as("cell"))
    val win = cells
      .withColumn("rank", row_number().over(
        Window.partitionBy($"cell").orderBy($"vec_id")))
      .withColumn("cell_size", count(lit(1)).over(Window.partitionBy($"cell")))
      .where($"rank" <= 2)
      .select($"cell", $"rank".cast("long").as("rank"), $"vec_id", $"cell_size")
      .orderBy($"cell", $"rank")
      .collect().toSeq
    val agg = graft.queries.SimilarityQueries
      .q155DiversitySample(spark, sfSmoke).collect().toSeq
    assert(agg == win, s"aggregate form diverges from window form")
    assert(agg.nonEmpty)
  }

  test("GlobalIndex/PrefixSum survive UnionRDD pipelining (partition ids must be the op's own, not the stage's)") {
    // regression: before the mapPartitionsWithIndex fix, a plan that
    // pipelined the rank mapPartitions into a union crashed with
    // ArrayIndexOutOfBounds (shifted stage partition ids) — or, worse,
    // could mis-seed offsets silently. Union the UNPERSISTED op output
    // with itself so both branches re-run inside the UnionRDD stage.
    import graft.ops.{GlobalIndex, PrefixSum}
    val rows = spark.range(0, 1000).map(i => (i % 37, i)).as[(Long, Long)]
    val idx = GlobalIndex.byScoreDesc(rows, 8)
    val u = idx.unionByName(idx).groupBy($"id")
      .agg(min($"idx").as("a"), max($"idx").as("b"))
    assert(u.filter($"a" =!= $"b").count() == 0) // both branches agree
    assert(idx.agg(max($"idx")).head().getLong(0) == 999L) // dense 0..n-1
    val ps = PrefixSum.byKeyAsc(
      spark.range(1, 101).map(i => (i, i)).as[(Long, Long)], 8)
    val pu = ps.unionByName(ps).groupBy($"k")
      .agg(min($"cum").as("a"), max($"cum").as("b"))
    assert(pu.filter($"a" =!= $"b").count() == 0)
    assert(ps.filter($"k" === 100).head().getLong(2) == 5050L)
    graft.ops.ScratchCache.releaseAll()
  }

  // ---- RankCorr.spearman ----------------------------------------------

  test("spearman: tie-averaged ranks match the textbook value on a hand-computed example") {
    // x=[10,20,20,30], y=[1,2,3,3]: avg ranks x=[1,2.5,2.5,4],
    // y=[1,2,3.5,3.5] -> rho = 5/6 (hand-computed via the doubled-rank
    // Pearson form; scipy.stats.spearmanr gives the same 0.833333...)
    val df = Seq(("g", 10L, 1.0), ("g", 20L, 2.0), ("g", 20L, 3.0),
      ("g", 30L, 3.0)).toDF("grp", "x", "y")
    val out = graft.ops.RankCorr.spearman(df, $"grp", $"x", $"y").collect()
    assert(out.length == 1)
    assert(out(0).getAs[Long]("n_rows") == 4L)
    assert(out(0).getAs[Double]("spearman_rho") == 0.833333)
  }

  test("aucRank: ties earn half credit (hand-computed 0.875), perfect separation is 1, single-class is null") {
    // scores [1,2,2,3], labels [n,p,n,p]: pos-neg pairs score (1 + 0.5 +
    // 1 + 1) / 4 = 0.875 under the standard tie-half-credit convention
    val df = Seq(
      ("t", 1.0, false), ("t", 2.0, true), ("t", 2.0, false), ("t", 3.0, true),
      ("s", 1.0, false), ("s", 2.0, false), ("s", 3.0, true),  // separable
      ("u", 1.0, true), ("u", 2.0, true))                      // no negatives
      .toDF("grp", "score", "y")
    val out = graft.ops.RankCorr.aucRank(df, $"grp", $"score", $"y")
      .orderBy($"g").collect()
    assert(out(0).getAs[Double]("auc") == 1.0)    // s
    assert(out(1).getAs[Double]("auc") == 0.875)  // t
    assert(out(2).isNullAt(out(2).fieldIndex("auc"))) // u
  }

  test("spearman: property — matches a brute-force average-rank Pearson on 20 random tied datasets") {
    val rnd = new scala.util.Random(42)
    def avgRanks(v: Seq[Double]): Seq[Double] = {
      val sorted = v.sorted
      v.map { x =>
        val lo = sorted.count(_ < x) + 1
        val hi = sorted.count(_ <= x)
        (lo + hi) / 2.0
      }
    }
    def pearson(a: Seq[Double], b: Seq[Double]): Double = {
      val n = a.length
      val (ma, mb) = (a.sum / n, b.sum / n)
      val num = a.zip(b).map { case (x, y) => (x - ma) * (y - mb) }.sum
      val den = math.sqrt(a.map(x => (x - ma) * (x - ma)).sum *
        b.map(y => (y - mb) * (y - mb)).sum)
      num / den
    }
    val rows = (0 until 20).flatMap { g =>
      val n = 5 + rnd.nextInt(20)
      // small integer domains force plenty of ties
      (0 until n).map(_ => (s"g$g", rnd.nextInt(6).toLong,
        rnd.nextInt(4).toDouble))
    }
    val df = rows.toDF("grp", "x", "y")
    val got = graft.ops.RankCorr.spearman(df, $"grp", $"x", $"y")
      .collect().map(r => r.getString(0) ->
        (if (r.isNullAt(2)) None else Some(r.getDouble(2)))).toMap
    rows.groupBy(_._1).foreach { case (g, rs) =>
      val xs = rs.map(_._2.toDouble)
      val ys = rs.map(_._3)
      if (xs.distinct.length > 1 && ys.distinct.length > 1) {
        val expect = math.round(pearson(avgRanks(xs), avgRanks(ys)) * 1e6) / 1e6
        assert(math.abs(got(g).get - expect) <= 1e-6,
          s"$g: ${got(g)} vs $expect")
      } else assert(got(g).isEmpty, s"$g: constant variable must be null")
    }
  }

  test("rbo tail weights: identical rankings integrate to 1 - p^D (the RBO self-agreement identity)") {
    import graft.queries.SimilarityQueries.{rboSuffixQ, RboD, RboP}
    // an item at rank d in BOTH lists enters the intersection at m = d,
    // so self-RBO = (1-p) * sum_d Sq(d) / 1e12 and must equal 1 - p^D
    val selfRbo = (1.0 - RboP) * rboSuffixQ.sum / 1e12
    val expected = 1.0 - math.pow(RboP, RboD)
    assert(math.abs(selfRbo - expected) < 1e-9,
      s"selfRbo=$selfRbo expected=$expected")
  }

  test("spearman: perfect anti-correlation is -1, constant variable is null, groups stay independent") {
    val df = Seq(
      ("a", 1L, 3.0), ("a", 2L, 2.0), ("a", 3L, 1.0),  // rho = -1
      ("b", 1L, 7.0), ("b", 2L, 7.0), ("b", 3L, 7.0))  // y constant -> null
      .toDF("grp", "x", "y")
    val out = graft.ops.RankCorr.spearman(df, $"grp", $"x", $"y")
      .orderBy($"g").collect()
    assert(out(0).getAs[Double]("spearman_rho") == -1.0)
    assert(out(1).isNullAt(out(1).fieldIndex("spearman_rho")))
  }
}
