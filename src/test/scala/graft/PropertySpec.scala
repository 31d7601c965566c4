package graft

import org.apache.spark.sql.functions._

import graft.operators.{ConnectedComponents, Dedup}

/** Randomized-case checks for the two operators whose correctness
  * rests on a combinatorial argument: the triangle block-matrix pair
  * coverage (every unordered pair meets in exactly one block-pair
  * task) and the alternating-star contraction. Cases are seeded
  * pseudo-random (reproducible) and each runs a Spark job, so the
  * counts stay small while the inputs vary adversarially.
  */
class PropertySpec extends SparkSpec {
  import spark.implicits._

  private def scramble(seed: Long): Long = {
    var z = seed * 0x9e3779b97f4a7c15L + 0xabcdefL
    z ^= z >>> 30; z *= 0xbf58476d1ce4e5b9L
    z ^= z >>> 27; z *= 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }
  private def pick(seed: Long, lo: Int, hi: Int): Int =
    lo + (math.abs(scramble(seed)) % (hi - lo + 1)).toInt

  private def vec(seed: Long, dim: Int): Array[Float] =
    Array.tabulate(dim)(d => (scramble(seed * 64 + d) % 997L) / 500.0f)

  test("block-matrix embedding pairs equal all unordered pairs for any (n, blocks)") {
    (1 to 6).foreach { c =>
      val n = pick(c * 7 + 1, 0, 30)
      val blocks = pick(c * 7 + 2, 1, 9)
      val df = (0 until n).map(i => (i.toLong, vec(c * 1000L + i, 8)))
        .toDF("vec_id", "embedding")
      // threshold -2 keeps EVERY pair: coverage must be exactly the
      // set of unordered pairs, each exactly once
      val blocked = Dedup.embeddingPairs(df, "embedding", "vec_id", -2.0, blocks = blocks)
        .select("id_a", "id_b").as[(Long, Long)].collect().sorted.toSeq
      val expected = (for { a <- 0 until n; b <- a + 1 until n }
        yield (a.toLong, b.toLong)).sorted
      assert(blocked === expected, s"case $c: n=$n blocks=$blocks")
    }
  }

  test("distributed star CC matches the driver union-find on random graphs") {
    (1 to 5).foreach { c =>
      val nEdges = pick(c * 13 + 5, 0, 40)
      val edges = (0 until nEdges).map(i =>
        (math.abs(scramble(c * 500L + i)) % 30, math.abs(scramble(c * 900L + i)) % 30))
      val df = edges.toDF("src", "dst")
      val distributed = ConnectedComponents.runWithStatsDistributed(df)
        .labels.as[(Long, Long)].collect().toMap
      val driver = ConnectedComponents.run(df) // small → union-find path
        .as[(Long, Long)].collect().toMap
      assert(distributed === driver, s"case $c: nEdges=$nEdges")
    }
  }

  /** CWL records for the decode properties: generated payloads, each
    * field well typed, null, missing, mistyped or duplicated, under
    * record mutations; and each anomaly alone in a DATA payload.
    */
  private object Cwl {
    import org.scalacheck.Gen
    import graft.functions.Gzip

    // JSON fragments: raw non-ASCII (é, CJK, a surrogate pair, U+2028),
    // escapes of the same, a lone surrogate escape and control escapes
    val str = Gen.oneOf("\"\"", "\"plain\"", "\"tab\\tnl\\n\"", "\"q\\\" b\\\\\"",
      "\"\u00e9\u65e5\u672c\"", "\"\uD83D\uDE00\"", "\"\u2028\"", "\"\\u2028\\ud83d\\ude00\"",
      "\"\\ud800\"", "\"\\u0000\"")
    val oddValues = Seq("5", "-1.5", "true", "{}", "[]", "[\"a\"]", "{\"k\":[1,{}]}", "\"x\"")
    val odd = Gen.oneOf(oddValues)
    def obj(fields: Seq[(String, String)]): String =
      fields.map { case (k, v) => s""""$k":$v""" }.mkString("{", ",", "}")
    // a field: well typed, null or missing; when it is the payload's
    // `noisy` target also mistyped or duplicated, which the fast path
    // hands to the chain
    def field(k: String, good: Gen[String], noisy: String, bad: Gen[String] = odd) = {
      val w = if (noisy == k) 8 else 0
      Gen.frequency(14 -> good.map(v => Seq(k -> v)), 1 -> Gen.const(Seq(k -> "null")),
        1 -> Gen.const(Seq.empty[(String, String)]), w -> bad.map(v => Seq(k -> v)),
        w -> Gen.zip(good, good).map { case (a, b) => Seq(k -> a, k -> b) })
    }
    // objects carry an unknown field now and then, and are shuffled
    def shuffled(parts: Seq[Gen[Seq[(String, String)]]]): Gen[String] =
      Gen.sequence[Seq[Seq[(String, String)]], Seq[(String, String)]](parts :+
        Gen.frequency(4 -> Gen.const(Seq.empty), 1 -> odd.map(v => Seq("MessageType" -> v))))
        .flatMap(fs => Gen.long.map(seed => obj(new scala.util.Random(seed).shuffle(fs).flatten)))
    def payload(noisy: String): Gen[String] = {
      def w(k: String) = if (noisy == k) 8 else 0
      val ts = Gen.choose(0L, 2000000000000L).map(_.toString)
      val badTs = Gen.oneOf("9223372036854775808", "1e3", "-1.5", "\"12\"", "true")
      val value = Gen.frequency(6 -> str, 1 -> Gen.const("null"), w("value") -> odd)
      val fields = Gen.listOfN(3, Gen.zip(Gen.oneOf("a", "b", "\u00e9", "a"), value)).map(obj)
      val event = Gen.frequency(10 -> shuffled(Seq(field("id", str, noisy),
        field("timestamp", ts, noisy, badTs), field("message", str, noisy),
        field("extractedFields", fields, noisy))), 1 -> Gen.const("null"), w("event") -> odd)
      val events = Gen.frequency(1 -> Gen.const(0), 4 -> Gen.choose(1, 4)).flatMap(Gen.listOfN(_, event)).map(_.mkString("[", ",", "]"))
      val messageType = Gen.frequency(8 -> Gen.const("\"DATA_MESSAGE\""),
        2 -> Gen.const("\"CONTROL_MESSAGE\""), 1 -> Gen.const("\"data_message\""))
      val filters = Gen.listOf(Gen.frequency(5 -> str, w("filter") -> odd)).map(_.mkString("[", ",", "]"))
      shuffled(Seq(field("messageType", messageType, noisy), field("owner", str, noisy),
        field("logGroup", str, noisy), field("logStream", str, noisy),
        field("subscriptionFilters", filters, noisy), field("logEvents", events, noisy)))
    }
    val noisy = Gen.frequency(2 -> Gen.const(""), 3 -> Gen.oneOf("messageType", "owner", "logGroup",
      "logStream", "subscriptionFilters", "filter", "logEvents", "event", "id", "timestamp",
      "message", "extractedFields", "value"))
    def gz(s: String): Array[Byte] = Gzip.gzip(s.getBytes("UTF-8"))
    // record mutations: truncated gzip, not gzip, gzip of non-JSON or of
    // an empty text, trailing text, a single-quoted key, a raw invalid
    // UTF-8 byte
    val record: Gen[Array[Byte]] = noisy.flatMap(payload).flatMap(p => Gen.frequency(
      24 -> Gen.const(gz(p)),
      1 -> Gen.choose(1, 30).map(n => gz(p).take(math.max(1, gz(p).length - n))),
      1 -> Gen.const(p.getBytes("UTF-8")),
      1 -> Gen.const(gz("not json <html>")), 1 -> Gen.const(gz("")),
      1 -> Gen.const(gz(p + " trailing")), 1 -> Gen.const(gz(p.replaceFirst("\"owner\"", "'owner'"))),
      1 -> Gen.const(Gzip.gzip(p.getBytes("UTF-8").map(b => if (b == 'q'.toByte) 0xff.toByte else b)))))
    val records = Gen.choose(1, 6).flatMap(Gen.listOfN(_, record))

    // each anomaly alone in an otherwise well-formed DATA payload
    val ev = Seq("id" -> "\"e1\"", "timestamp" -> "17", "message" -> "\"m\"",
      "extractedFields" -> "{\"a\":\"1\",\"b\":null,\"a\":\"2\"}")
    def data(top: Seq[(String, String)] = Seq.empty, e: Seq[(String, String)] = ev,
        events: String => String = e => s"[$e,null]"): String =
      obj(Seq("messageType" -> "\"DATA_MESSAGE\"", "owner" -> "\"o\"", "logEvents" -> events(obj(e))) ++ top)
    val alone = Seq(data(), data(events = _ => "[]"), data(events = _ => "null")) ++
      (Seq("9223372036854775808", "1e3", "\"12\"") ++ oddValues).map(v => data(e = ev.updated(1, "timestamp" -> v))) ++
      Seq(0, 2, 3).flatMap(j => oddValues.map(v => data(e = ev.updated(j, ev(j)._1 -> v)))) ++
      Seq("messageType", "owner", "logGroup", "logStream", "subscriptionFilters", "logEvents")
        .flatMap(k => oddValues.map(v => data(top = Seq(k -> v)))) ++
      oddValues.flatMap(v => Seq(data(e = ev.updated(3, "extractedFields" -> s"{\"a\":$v}")),
        data(events = e => s"[$e,$v]"), data(top = Seq("subscriptionFilters" -> s"[\"f\",$v]")))) ++
      Seq(data(e = ev :+ ("id" -> "\"e2\"")), data(e = ev :+ ("message" -> "null")),
        data(top = Seq("messageType" -> "\"CONTROL_MESSAGE\"")), data(top = Seq("logEvents" -> "[]")),
        data(top = Seq("MessageType" -> "5", "extra" -> "{\"logEvents\":[1]}")))
  }

  test("CwlEvents equals the from_json chain under every keep mask, strict and permissive") {
    import org.scalacheck.{Gen, Prop, Test => Check}
    import org.scalacheck.rng.Seed
    import org.apache.spark.sql.{Column, DataFrame}
    import org.apache.spark.sql.graftshim.ColumnShim
    import graft.functions.{CwlEvents, graft_gunzip, graft_try_gunzip}
    import graft.sources.CloudWatchLogs
    import Cwl._

    val names = CwlEvents.Schema.fieldNames.toSeq
    // map<string,string> as (keys, values): duplicate keys stay visible
    def normMap(c: Column): Column = when(c.isNotNull, struct(map_keys(c), map_values(c)))
    def rowsOf(df: DataFrame): Either[String, Seq[Seq[Any]]] =
      try Right(df.collect().toSeq.map(_.toSeq))
      catch { case e: Exception => Left(e.getClass.getSimpleName) }

    def check(recs: Seq[Array[Byte]], permissive: Boolean): Prop = {
      val df = recs.zipWithIndex.map(_.swap).toDF("i", "data").repartition(1)
      val dec = if (permissive) graft_try_gunzip(col("data")) else graft_gunzip(col("data"))
      val chain = df
        .withColumn("_p", from_json(dec.cast("string"), CloudWatchLogs.payloadSchema))
        .where(col("_p.messageType") === CloudWatchLogs.DataMessage)
        .select(explode(col("_p.logEvents")).as("e"))
        .select(col("e.id"), col("e.timestamp"), col("e.message"), normMap(col("e.extractedFields")))
      val fused = (0 to CwlEvents.All).map { k =>
        df.select(ColumnShim.column(CwlEvents(ColumnShim.expression(col("data")), permissive, k)))
          .select((lit(k) +: names.take(3).map(col)) :+ normMap(col("fields")): _*)
      }.reduce(_ unionAll _)
      (rowsOf(chain), rowsOf(fused)) match {
        case (Left(_), Left(_)) => Prop.passed
        case (Right(want), Right(got)) =>
          Prop.all((0 to CwlEvents.All).map { k =>
            val mine = got.filter(_.head == k).map(_.tail)
            val masked = want.map(_.zipWithIndex.map { case (v, j) => if ((k & (1 << j)) != 0) v else null })
            Prop(mine == masked) :| s"keep=$k permissive=$permissive got=$mine want=$masked"
          }: _*)
        case (a, b) => Prop.falsified :| s"permissive=$permissive chain=$a fused=$b"
      }
    }
    Seq(true, false).foreach { permissive =>
      val r = check(alone.map(gz), permissive)(Gen.Parameters.default)
      assert(r.success, r.labels.mkString("; "))
    }

    val prop = Prop.forAllNoShrink(records) { recs =>
      (check(recs, permissive = true) && check(recs, permissive = false)) :|
        recs.map(r => new String(r.take(300).map(b => if (b >= 32 && b < 127) b else '.'.toByte), "ISO-8859-1")).mkString(" | ")
    }
    val res = Check.check(Check.Parameters.default
      .withMinSuccessfulTests(80).withWorkers(1).withInitialSeed(Seed(2018L)), prop)
    assert(res.passed, res.status)
  }

  test("CwlFate equals r8's try_gunzip → from_json chain and class rules, record for record") {
    import org.scalacheck.{Gen, Prop, Test => Check}
    import org.scalacheck.rng.Seed
    import org.apache.spark.sql.Row
    import graft.functions.{CwlEvents, cwlFate, graft_try_gunzip}
    import graft.sources.CloudWatchLogs
    import CwlEvents.{BadJson, Control, CorruptGzip, Data, OtherType}
    import Cwl._

    // r8's rules over the whole parsed struct (read whole, so the
    // optimizer cannot prune the parse to the fields a rule reads):
    // try_gunzip null → corrupt gzip; no messageType → bad JSON; then
    // CONTROL, DATA with size(logEvents) (null for a null array, as
    // `size` gives under ANSI), or another type
    def r8Class(decNull: Boolean, p: Row): (Int, Any) = {
      val mt = if (p == null || p.isNullAt(0)) null else p.getString(0)
      if (decNull) (CorruptGzip, null)
      else if (mt == null) (BadJson, null)
      else if (mt == CloudWatchLogs.ControlMessage) (Control, null)
      else if (mt == CloudWatchLogs.DataMessage)
        (Data, if (p.isNullAt(5)) null else p.getSeq[Row](5).size.toLong)
      else (OtherType, null)
    }
    def check(recs: Seq[Array[Byte]]): Prop = {
      val df = recs.zipWithIndex.map(_.swap).toDF("i", "data").repartition(1)
      val dec = graft_try_gunzip(col("data"))
      val want = df.select(col("i"), dec.isNull, from_json(dec.cast("string"), CloudWatchLogs.payloadSchema))
        .collect().map(r => r.getInt(0) -> r8Class(r.getBoolean(1), r.getStruct(2))).toMap
      val got = df.select(col("i"), cwlFate(col("data")).as("f")).collect()
        .map(r => r.getInt(0) -> (r.getStruct(1).getInt(0), r.getStruct(1).get(1))).toMap
      Prop.all(recs.indices.map(i => Prop(got(i) == want(i)) :| s"record $i: fate ${got(i)} chain ${want(i)}"): _*)
    }
    // a truncated gzip whose text breaks JSON before the stream fails,
    // and payloads without events or without a known messageType
    val html = gz("<html>" + "x" * 4000 + "</html>")
    val cases = (alone ++ Seq(
        obj(Seq("messageType" -> "\"DATA_MESSAGE\"")), obj(Seq("messageType" -> "\"DATA_MESSAGE\"", "logEvents" -> "null")),
        obj(Seq("messageType" -> "\"data_message\"", "logEvents" -> "[]")), obj(Seq("logEvents" -> "[]")),
        obj(Seq("messageType" -> "null")), obj(Seq("messageType" -> "\"CONTROL_MESSAGE\"")), "[]", "", "null"))
      .map(gz) ++ Seq(null, html.take(html.length * 3 / 5), html.take(10), Array[Byte](1, 2, 3), Array.empty[Byte])
    val r = check(cases)(Gen.Parameters.default)
    assert(r.success, r.labels.mkString("; "))

    val withNulls = Gen.choose(1, 6).flatMap(Gen.listOfN(_, Gen.frequency(12 -> record, 1 -> Gen.const(null: Array[Byte]))))
    val res = Check.check(Check.Parameters.default
      .withMinSuccessfulTests(80).withWorkers(1).withInitialSeed(Seed(2018L)), Prop.forAllNoShrink(withNulls)(check))
    assert(res.passed, res.status)
  }
}
