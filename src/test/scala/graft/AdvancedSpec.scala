package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.functions.{DotProductF32, VectorFunctions}
import graft.ops.Sessionize

class AdvancedSpec extends AnyFunSuite with SparkSpecBase {
  import spark.implicits._

  test("native DotProductF32 equals the HOF dotSeq bit-for-bit") {
    val emb = Tables.embeddings(spark, sfSmoke).limit(50)
    val pairs = emb.as("a").crossJoin(emb.as("b")).limit(500)
      .select(
        DotProductF32.dot($"a.embedding", $"b.embedding").as("native"),
        VectorFunctions.dotSeq($"a.embedding", $"b.embedding").as("hof"))
      .collect()
    assert(pairs.nonEmpty)
    pairs.foreach(r => assert(r.getDouble(0) == r.getDouble(1)))
  }

  test("graft_dot is callable from SQL after extension registration") {
    Tables.embeddings(spark, sfSmoke).limit(5).createOrReplaceTempView("emb_t")
    val v = spark.sql(
      "SELECT graft_dot(embedding, embedding) AS d FROM emb_t ORDER BY vec_id")
      .collect().map(_.getDouble(0))
    assert(v.length == 5 && v.forall(_ > 0))
  }

  test("graft_char_class_count / graft_redact_pii SQL forms match the Column API") {
    Seq((1L, "Дед abc 42, mail me: a.b@x.io or 01-234-567-8901"))
      .toDF("id", "text").createOrReplaceTempView("pii_t")
    val r = spark.sql(
      """SELECT graft_char_class_count(text, '\\p{IsCyrillic}') AS cyr,
        |  graft_char_class_count(text, '[0-9]') AS dig,
        |  graft_redact_pii(text) AS red FROM pii_t""".stripMargin).head()
    assert(r.getLong(0) == 3L)
    assert(r.getLong(1) == 14L)
    assert(r.getString(2).contains("[EMAIL]") && r.getString(2).contains("[PHONE]"))
    assert(!r.getString(2).contains("a.b@x.io"))
  }

  test("the full native family is SQL-callable and matches the Column API") {
    Tables.documents(spark, sfSmoke).limit(20).createOrReplaceTempView("docs_t")
    Tables.embeddings(spark, sfSmoke).limit(20).createOrReplaceTempView("emb_t2")
    val sqlSide = spark.sql(
      """SELECT doc_id, graft_polyhash(text) AS ph,
        |  graft_word_shingles(text, 3) AS sh,
        |  graft_shingle_hashes(text, 3) AS hs,
        |  graft_simhash(graft_shingle_hashes(text, 3)) AS sim,
        |  graft_minhash(graft_shingle_hashes(text, 3), 8) AS mh
        |FROM docs_t ORDER BY doc_id""".stripMargin).collect()
    val colSide = Tables.documents(spark, sfSmoke).limit(20).orderBy($"doc_id")
      .select($"doc_id", graft.functions.TextFunctions.polyHash($"text"),
        graft.functions.ShingleExpressions.wordShingles($"text", 3),
        graft.functions.ShingleExpressions.wordShingleHashes($"text", 3),
        graft.functions.HashExpressions.simhash48(
          graft.functions.ShingleExpressions.wordShingleHashes($"text", 3)),
        graft.functions.HashExpressions.minhashSig(
          graft.functions.ShingleExpressions.wordShingleHashes($"text", 3), 8))
      .collect()
    sqlSide.zip(colSide).foreach { case (a, b) => assert(a == b) }
    val hp = spark.sql(
      "SELECT graft_hyperplane(embedding, 4, 64, 8) FROM emb_t2").collect()
    assert(hp.forall(_.getSeq[Long](0).length == 8))
    // array-polyhash over shingle strings == per-shingle graft_polyhash
    val aph = spark.sql(
      """SELECT graft_array_polyhash(graft_word_shingles(text, 3)) AS a,
        |  transform(graft_word_shingles(text, 3), s -> graft_polyhash(s)) AS b
        |FROM docs_t WHERE graft_word_shingles(text, 3) IS NOT NULL""".stripMargin)
      .collect()
    aph.foreach(r => assert(r.getSeq[Long](0) == r.getSeq[Long](1)))
    // composition-backed functions: same trees as the Scala API
    val vec = spark.sql(
      """SELECT graft_cosine(embedding, embedding) AS c,
        |  graft_roundp(graft_norm(embedding), 3) AS n,
        |  graft_tokens('A b  c') AS t, graft_token_count('one two-three') AS tc
        |FROM emb_t2 LIMIT 3""".stripMargin).collect()
    vec.foreach { r =>
      assert(math.abs(r.getDouble(0) - 1.0) < 1e-9) // cos(v, v) == 1
      assert(r.getDouble(1) > 0)
      assert(r.getSeq[String](2) == Seq("a", "b", "c"))
      assert(r.getInt(3) == 4) // BPE-ish: hyphen is its own token (one,two,-,three)
    }
    // graft_pq_adc(lut, codes): float LUT laid out [m][ksub] x BINARY codes
    val adc = spark.sql(
      "SELECT graft_pq_adc(array(1.0F, 2.0F, 3.0F, 4.0F), X'0001') AS d")
      .collect().head.getDouble(0)
    assert(math.abs(adc - (1.0f + 4.0f)) < 1e-9) // code0->lut[0][0], code1->lut[1][1]
  }

  test("polyhash generates code (its string children stay inside codegen)") {
    val df = Tables.documents(spark, sfSmoke).limit(10)
      .select(graft.functions.TextFunctions.polyHash(
        concat_ws("|", $"doc_id", lower($"text"))).as("h"))
    val plan = df.queryExecution.executedPlan.toString
    assert("""\*\(\d+\) Project \[polyhash32""".r.findFirstIn(plan).isDefined, plan)
    assert(df.collect().length == 10)
  }

  test("all array-returning natives generate code (inside WholeStageCodegen spans)") {
    val docs = Tables.documents(spark, sfSmoke).limit(10)
    val hashDf = docs.select(
      graft.functions.ShingleExpressions.wordShingles($"text", 3).as("sh"),
      graft.functions.HashExpressions.simhash48(
        graft.functions.ShingleExpressions.wordShingleHashes($"text", 3)).as("sim"),
      graft.functions.HashExpressions.minhashSig(
        graft.functions.ShingleExpressions.wordShingleHashes($"text", 3), 8).as("mh"))
    val emb = Tables.embeddings(spark, sfSmoke).limit(10)
    val cents = Array(Array(1f, 0f, 0f), Array(0f, 1f, 0f))
    val vecDf = emb.select(
      graft.functions.HashExpressions.hyperplaneSigs($"embedding", 4, 64, 2).as("hp"),
      graft.functions.NearestCentroid.nearest($"embedding", cents).as("nc"),
      graft.functions.NearestCells.topCells($"embedding", cents, 2).as("cells"))
    for ((df, names) <- Seq(
        hashDf -> Seq("wordshingles", "wordshinglehashes", "simhash48", "minhashsig"),
        vecDf -> Seq("hyperplanesigs", "nearestcentroid", "nearestcells"))) {
      val plan = df.queryExecution.executedPlan.toString
      for (n <- names) {
        val line = plan.linesIterator.find(l => l.contains("Project") && l.contains(n))
        // `*(n)` prefixes operators living inside a WholeStageCodegen stage
        assert(line.exists("""\*\(\d+\) Project""".r.findFirstIn(_).isDefined),
          s"$n not codegen'd:\n$plan")
      }
      assert(df.collect().length == 10) // and the generated code actually runs
    }
  }

  test("native dot survives whole-stage codegen (plan contains codegen stage)") {
    val emb = Tables.embeddings(spark, sfSmoke).limit(10)
    val df = emb.select(DotProductF32.dot($"embedding", $"embedding").as("d"))
    val plan = df.queryExecution.executedPlan.toString
    // the `*(n)` prefix marks operators inside a WholeStageCodegen stage
    assert("""\*\(\d+\) Project \[dotproductf32""".r.findFirstIn(plan).isDefined, plan)
    assert(df.collect().forall(_.getDouble(0) > 0))
  }

  test("stateful sessionization equals the relational form (batch catch-up)") {
    val ev = Tables.events(spark, sfSmoke)
    val batch = Sessionize.relational(ev, 30)
      .select($"user_id", $"session_id", $"n_events", $"start_ts", $"end_ts")
      .collect().map(_.toSeq).toSet
    val typed = ev.select($"user_id", $"ts").as[(Long, java.sql.Timestamp)]
    // flushAll drain: each user's full history is in this (batch) pass, so
    // open tails are emitted too — output must EQUAL the relational form
    val flushed = Sessionize.stateful(typed, 30, flushAll = true).collect()
      .map(s => Seq(s.user_id, s.session_id, s.n_events, s.start_ts, s.end_ts)).toSet
    assert(flushed == batch,
      s"missing=${(batch -- flushed).take(3)} extra=${(flushed -- batch).take(3)}")
    // default (live-stream) mode: only closed sessions, a strict subset
    val closedOnly = Sessionize.stateful(typed, 30).collect()
      .map(s => Seq(s.user_id, s.session_id, s.n_events, s.start_ts, s.end_ts)).toSet
    assert(closedOnly.subsetOf(batch), s"diverge: ${(closedOnly -- batch).take(3)}")
    assert(closedOnly.size < flushed.size)
  }

  test("stateful sessionization runs as a REAL stream and matches the batch closed set") {
    import org.apache.spark.sql.functions._
    val schema = Tables.load(spark, sfSmoke, "events").schema
    val stream = spark.readStream.schema(schema)
      .option("pathGlobFilter", "events.parquet").parquet(sfSmoke)
      .withColumn("ts_conv",
        if (schema("ts").dataType == org.apache.spark.sql.types.LongType)
          timestamp_micros(expr("ts div 1000"))
        else col("ts"))
      .select($"user_id", $"ts_conv").as[(Long, java.sql.Timestamp)]
    val name = "graft_stream_sessions"
    val q = Sessionize.stateful(stream, 30).writeStream
      .format("memory").queryName(name).outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    q.awaitTermination()
    val streamed = spark.table(name).collect()
      .map(r => Seq(r.getLong(0), r.getLong(1), r.getLong(2),
        r.getTimestamp(3), r.getTimestamp(4))).toSet
    val ev = Tables.events(spark, sfSmoke)
    val closedBatch = Sessionize.stateful(
      ev.select($"user_id", $"ts").as[(Long, java.sql.Timestamp)], 30).collect()
      .map(s => Seq[Any](s.user_id, s.session_id, s.n_events, s.start_ts, s.end_ts)).toSet
    assert(streamed == closedBatch,
      s"missing=${(closedBatch -- streamed).take(3)} extra=${(streamed -- closedBatch).take(3)}")
    assert(streamed.nonEmpty)
  }
}
