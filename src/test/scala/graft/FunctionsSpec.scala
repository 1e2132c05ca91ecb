package graft

import graft.functions.{ChurroFunctions, GraftExtensions}
import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Native Catalyst expression surface: Column API, SQL registration via
  * SparkSessionExtensions, codegen participation, null handling, and value
  * parity with the pure functions (which are themselves reference-golden
  * verified in ParitySpec).
  */
class FunctionsSpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[2]")
    .config("spark.sql.shuffle.partitions", "2")
    .config("spark.ui.enabled", "false")
    .withExtensions(new GraftExtensions)
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  test("SQL surface via extensions: expressions resolve and evaluate") {
    val rows = spark.sql(
      """SELECT churro_normalize('<output>Teſt-\ning **x**</output>') AS n,
        |       churro_strip_output_tag('<output> Pred </output>') AS t,
        |       churro_xml_flatten('<HistoricalDocument><Page><Body>B</Body></Page></HistoricalDocument>') AS x,
        |       has_long_repetition('abcabcabc') AS r,
        |       nls('kitten', 'sitting') AS d,
        |       nls('', '') AS both_empty""".stripMargin).collect()(0)
    assert(rows.getString(0) == graft.text.Normalization.normalizeTextForEvaluation("<output>Teſt-\ning **x**</output>"))
    assert(rows.getString(1) == "Pred")
    assert(rows.getString(2) == "B")
    assert(rows.getBoolean(3))
    assert(math.abs(rows.getDouble(4) - (1.0 - 3.0 / 7.0)) < 1e-12)
    assert(rows.getDouble(5) == 1.0)
  }

  test("Column API over a DataFrame, inside whole-stage codegen") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // a range scan guarantees a WholeStageCodegen stage our expressions join
    val gen = spark.range(3).select(
      ChurroFunctions.churro_strip_output_tag(
        concat(lit("<output>v"), col("id"), lit("</output>"))).as("s"))
    val genPlan = gen.queryExecution.executedPlan.toString
    // "*(n)" prefixes mark operators inside a WholeStageCodegen stage
    assert(genPlan.contains("*(1) Project"), s"expected codegen'd Project:\n$genPlan")
    assert(gen.collect().map(_.getString(0)).toSeq == Seq("v0", "v1", "v2"))

    val df = Seq("<output>A b</output>", "xyxyxy", null).toDF("t")
    val rows = df.select(
      ChurroFunctions.churro_strip_output_tag($"t").as("s"),
      ChurroFunctions.has_long_repetition($"t").as("r"),
      ChurroFunctions.nls($"t", $"t").as("n")).collect()
    assert(rows(0).getString(0) == "A b" && !rows(0).getBoolean(1) && rows(0).getDouble(2) == 1.0)
    assert(rows(1).getBoolean(1))
    assert(rows(2).isNullAt(0) && rows(2).isNullAt(1) && rows(2).isNullAt(2)) // null-intolerant
  }

  test("bit/hash expressions match their interpreted SQL twins, inside codegen") {
    import org.apache.spark.sql.functions._
    // deterministic inputs: strings + derived 0/1 arrays
    val df = spark.range(64).select(
      concat(lit("word"), col("id")).as("w"),
      expr("transform(sequence(0, 127), i -> CAST((i + id) % 3 = 0 AS INT))").as("bits"),
      expr("transform(sequence(0, 127), i -> CAST((i + id) % 5 = 0 AS INT))").as("bits2"))
    val got = df.select(
      ChurroFunctions.md5_split56(col("w")).as("hp"),
      expr("cast(conv(substring(md5(w), 1, 14), 16, 10) as bigint)").as("h1_sql"),
      expr("cast(conv(substring(md5(w), 15, 14), 16, 10) as bigint)").as("h2_sql"),
      ChurroFunctions.md5_nibble_bits(col("w")).as("mb"),
      substring(md5(col("w")), 1, 16).as("hx"),
      ChurroFunctions.bits_pack(col("bits"), 8).as("b8"),
      ChurroFunctions.bits_pack(col("bits"), 32).as("b32"),
      expr("transform(sequence(0, 3), k -> aggregate(slice(bits, k * 32 + 1, 32), 0L, (a, b) -> shiftleft(a, 1) | b))").as("b32_sql"),
      ChurroFunctions.hamming_bits(col("bits"), col("bits2")).as("hb"),
      expr("aggregate(zip_with(bits, bits2, (p, q) -> CASE WHEN p = q THEN 0 ELSE 1 END), 0, (acc, e) -> acc + e)").as("hb_sql"))
    // codegen: the Project carrying all of the above must be whole-stage
    val plan = got.queryExecution.executedPlan.toString
    assert(plan.contains("*(1)"), s"expected a WholeStageCodegen stage:\n$plan")
    got.collect().foreach { r =>
      val hp = r.getSeq[Long](0)
      assert(hp(0) == r.getLong(1) && hp(1) == r.getLong(2), "md5_split56 vs conv")
      // md5_nibble_bits bit (4d+p) == bit p of hex digit d of the md5 prefix
      val mb = r.getLong(3)
      val hx = r.getString(4)
      (0 until 64).foreach { i =>
        val digit = Integer.parseInt(hx.charAt(i / 4).toString, 16)
        assert(((mb >> i) & 1L) == ((digit >> (i % 4)) & 1).toLong, s"bit $i")
      }
      assert(r.getSeq[Long](6) == r.getSeq[Long](7), "bits_pack(32) vs fold")
      assert(r.getSeq[Long](5).length == 16, "bits_pack(8) word count")
      assert(r.getInt(8) == r.getInt(9), "hamming_bits vs zip_with fold")
    }
    // hex_hamming vs known distances
    val pairs = Seq(
      ("0000000000000000", "0000000000000000", 0),
      ("0000000000000000", "ffffffffffffffff", 64),
      ("00000000000000f0", "00000000000000f1", 1),
      ("abcdef0123456789", "abcdef0123456789", 0))
    import spark.implicits._
    pairs.toDF("a", "b", "exp")
      .select(ChurroFunctions.hex_hamming($"a", $"b").as("d"), $"exp")
      .collect().foreach(r => assert(r.getInt(0) == r.getInt(1)))
  }

  test("sign_bits / hamming_bits reject malformed vectors loudly") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    // UnsafeArrayData getters past the end (or on a null slot) return
    // GARBAGE, not an error — a malformed embedding must throw, not land
    // in a fabricated ANN bucket with nothing to trace
    def fails(df: org.apache.spark.sql.DataFrame, needle: String): Unit = {
      val e = intercept[Exception](df.collect())
      def msgs(t: Throwable): Seq[String] =
        if (t == null) Nil else Option(t.getMessage).toSeq ++ msgs(t.getCause)
      assert(msgs(e).exists(_.contains(needle)), s"wanted '$needle' in ${msgs(e)}")
    }
    fails(Seq(Seq(1.0, 2.0)).toDF("v").select(ChurroFunctions.sign_bits($"v")),
      "expected a 64-element vector")
    fails(Seq(Seq.tabulate(64)(i => if (i == 7) null else java.lang.Double.valueOf(i)))
      .toDF("v").select(ChurroFunctions.sign_bits($"v")), "null element at 7")
    fails(Seq((Seq(1, 2, 3), Seq(1, 2))).toDF("a", "b")
      .select(ChurroFunctions.hamming_bits($"a", $"b")), "length mismatch 3 vs 2")
    fails(Seq((Seq[Integer](1, null), Seq[Integer](1, 2))).toDF("a", "b")
      .select(ChurroFunctions.hamming_bits($"a", $"b")), "null element at 1")
  }

  test("cosine_sim equals the interpreted fold bit-for-bit, inside codegen") {
    import org.apache.spark.sql.functions._
    // deterministic mixed-sign vectors; same fold order ⇒ bitwise equality
    val df = spark.range(200).select(
      expr("transform(sequence(0, 63), i -> cast(((id + 1) * (i + 3)) % 97 - 48 as double) / 7.0)").as("a"),
      expr("transform(sequence(0, 63), i -> cast(((id + 5) * (i + 11)) % 89 - 44 as double) / 13.0)").as("b"))
    val got = df.select(
      ChurroFunctions.cosine_sim(col("a"), col("b")).as("c"),
      expr("""aggregate(zip_with(a, b, (x, y) -> x * y), 0D, (acc, e) -> acc + e)
             | / (sqrt(aggregate(transform(a, x -> x * x), 0D, (acc, e) -> acc + e))
             |    * sqrt(aggregate(transform(b, x -> x * x), 0D, (acc, e) -> acc + e)))""".stripMargin).as("c_sql"))
    val plan = got.queryExecution.executedPlan.toString
    assert(plan.contains("*(1)"), s"expected a WholeStageCodegen stage:\n$plan")
    got.collect().foreach { r =>
      assert(java.lang.Double.doubleToLongBits(r.getDouble(0)) ==
        java.lang.Double.doubleToLongBits(r.getDouble(1)), s"${r.getDouble(0)} vs ${r.getDouble(1)}")
    }
    // mismatched lengths and null elements → NULL, like the zip_with form
    // (never a silent out-of-bounds read)
    import spark.implicits._
    val edge = Seq(
      (Seq[java.lang.Double](1.0, 2.0), Seq[java.lang.Double](1.0)),
      (Seq[java.lang.Double](1.0, null), Seq[java.lang.Double](1.0, 2.0)))
      .toDF("a", "b")
      .select(ChurroFunctions.cosine_sim(col("a"), col("b")).as("c"))
      .collect()
    assert(edge.forall(_.isNullAt(0)), "length/null-element mismatch must be NULL")
  }

  test("argmax_cosine equals the crossJoin+window argmax it replaces") {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.expressions.Window
    import spark.implicits._
    // deterministic vectors; centroids = first 4 rows; vec 100 is the
    // ZERO vector (cosine = 0/0 = NaN against every centroid — the window
    // twin must agree on where NaN lands in the desc order)
    val vecs = ((0 until 40).map { id =>
      (id.toLong, Seq.tabulate(8)(i => (((id * 31 + i * 17 + 3) % 19) - 9).toDouble))
    } :+ (100L, Seq.fill(8)(0.0))).toDF("vec_id", "v")
    val cents = vecs.filter($"vec_id" < 4)
      .select($"vec_id".as("cent_id"), $"v".as("cv"))
    val centRows = cents.orderBy("cent_id").select("cv").collect().toSeq.map(_.getSeq[Double](0))
    val byExpr = vecs.select($"vec_id",
      ChurroFunctions.argmax_cosine($"v", typedlit(centRows)).cast("long").as("cent_id"))
    val aw = Window.partitionBy($"vec_id").orderBy($"ccos".desc, $"cent_id".asc)
    val byWindow = vecs.crossJoin(broadcast(cents))
      .withColumn("ccos", ChurroFunctions.cosine_sim($"v", $"cv"))
      .withColumn("arn", row_number().over(aw))
      .filter($"arn" === 1)
      .select($"vec_id", $"cent_id")
    val a = byExpr.orderBy("vec_id").collect().map(r => (r.getLong(0), r.getLong(1)))
    val b = byWindow.orderBy("vec_id").collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(a.sameElements(b))
    // and the expression plan stays codegen'd + exchange-free
    val plan = byExpr.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), plan)
    // NaN ranks ABOVE finite cosines (Spark's desc order): a zero-norm
    // CENTROID at index 1 wins over a perfect index-0 match
    val nanWin = spark.range(1)
      .select(ChurroFunctions.argmax_cosine(
        typedlit(Seq(1.0, 0.0)), typedlit(Seq(Seq(1.0, 0.0), Seq(0.0, 0.0)))).as("i"))
      .collect()(0).getInt(0)
    assert(nanWin == 1, s"NaN must sort largest like the window's desc order, got index $nanWin")
  }

  test("minhash_sigs equals the exploded 64-min-aggregation twin bit-for-bit") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val mod = graft.ops.Queries.MinhashMod
    val hashes = graft.ops.Queries.MinhashHashes
    val docs = Seq(
      (1L, Seq("alpha beta gamma", "beta gamma delta", "x")),
      (2L, Seq("one two three")),
      (3L, Seq("alpha beta gamma")), // shares a gram with doc 1
      (4L, (0 until 200).map(i => s"gram $i payload"))).toDF("doc_id", "grams")
    val native = docs
      .withColumn("sigs", ChurroFunctions.minhash_sigs($"grams", hashes, mod))
      .select(col("doc_id") +: (0 until hashes).map(j => element_at($"sigs", j + 1).as(s"s$j")): _*)
    val hp = docs.select($"doc_id", explode($"grams").as("g"))
      .withColumn("hp", ChurroFunctions.md5_split56($"g"))
      .withColumn("h1", element_at($"hp", 1))
      .withColumn("h2", element_at($"hp", 2))
    val sigCols = (0 until hashes).map(j =>
      min(($"h1" + lit(j.toLong) * $"h2") % lit(mod)).as(s"s$j"))
    val twin = hp.groupBy($"doc_id").agg(sigCols.head, sigCols.tail: _*)
    val a = native.orderBy("doc_id").collect().map(_.toSeq)
    val b = twin.orderBy("doc_id").collect().map(_.toSeq)
    assert(a.length == b.length && a.zip(b).forall { case (x, y) => x == y })
    // empty gram array -> NULL (the exploded plan had no row; callers filter)
    val empty = Seq((9L, Seq.empty[String])).toDF("doc_id", "grams")
      .select(ChurroFunctions.minhash_sigs($"grams", hashes, mod).as("sigs")).collect()(0)
    assert(empty.isNullAt(0))
  }

  test("minhash_sigs_text equals minhash_sigs over the HOF-shingled gram array") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val mod = graft.ops.Queries.MinhashMod
    val hashes = graft.ops.Queries.MinhashHashes
    // edge shapes the fused pass must reproduce: < gramLen words (clipped
    // gram), exactly gramLen, long text, repeated words (duplicate grams),
    // empty string (split -> [""]), multi-space runs (empty words), and
    // null words (skipped, as concat_ws skips them), incl. an all-null gram
    val docs = Seq(
      (1L, "alpha beta gamma delta epsilon"),
      (2L, "one two"),
      (3L, "x"),
      (4L, ""),
      (5L, "a  b   c"),
      (6L, (0 until 500).map(i => s"w${i % 37}").mkString(" ")),
      (7L, "dup dup dup dup")).toDF("doc_id", "text")
      .select($"doc_id", split($"text", " ").as("words"))
      .union(Seq((8L, Seq("p", null, "q", null, null, null, "r")))
        .toDF("doc_id", "words"))
    val fused = docs
      .withColumn("sigs",
        ChurroFunctions.minhash_sigs_text($"words", 3, hashes, mod))
      .select(col("doc_id") +: (0 until hashes).map(j =>
        element_at($"sigs", j + 1).as(s"s$j")): _*)
    val viaGrams = docs
      .withColumn("grams", expr(
        "array_distinct(transform(sequence(0, greatest(size(words) - 3, 0)), i -> concat_ws(' ', slice(words, i + 1, 3))))"))
      .withColumn("sigs", ChurroFunctions.minhash_sigs($"grams", hashes, mod))
      .select(col("doc_id") +: (0 until hashes).map(j =>
        element_at($"sigs", j + 1).as(s"s$j")): _*)
    val a = fused.orderBy("doc_id").collect().map(_.toSeq)
    val b = viaGrams.orderBy("doc_id").collect().map(_.toSeq)
    assert(a.length == b.length && a.zip(b).forall { case (x, y) => x == y })
    // NULL words array (null text) -> NULL sigs, like the gram twin
    val nul = Seq((9L, null: String)).toDF("doc_id", "text")
      .select(ChurroFunctions.minhash_sigs_text(split($"text", " "), 3, hashes, mod))
      .collect()(0)
    assert(nul.isNullAt(0))
  }

  test("collect_list_capped: complete under the cap, bounded above it") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    // group 0: 3 members (under cap), group 1: 50 members (over cap)
    val df = ((0 until 3).map(i => (0, i)) ++ (0 until 50).map(i => (1, i + 100)))
      .toDF("g", "x").repartition(4) // force partial buffers + merge
    val cap = 5
    val got = df.groupBy($"g")
      .agg(ChurroFunctions.collect_list_capped($"x", cap + 1).as("xs"))
      .select($"g", array_sort($"xs").as("xs"), size($"xs").as("n"))
      .orderBy("g").collect()
    // under-cap group: every element present, same as plain collect_list
    assert(got(0).getSeq[Int](1) == Seq(0, 1, 2))
    // over-cap group: buffer stopped at exactly cap + 1 elements
    assert(got(1).getInt(2) == cap + 1)
    assert(got(1).getSeq[Int](1).forall(x => x >= 100 && x < 150))
    // struct elements round-trip through serialize/deserialize too
    val st = df.groupBy($"g")
      .agg(ChurroFunctions.collect_list_capped(struct($"x", $"g"), cap + 1).as("ms"))
      .select($"g", size($"ms").as("n")).orderBy("g").collect()
    assert(st(0).getInt(1) == 3 && st(1).getInt(1) == cap + 1)
  }

  test("bits_pack rejects remainder bits and null slots loudly") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    // 10 bits into 8-bit words: 2 trailing bits would vanish silently
    // constant-foldable inputs throw driver-side (bare IAE); distributed
    // inputs arrive wrapped in SparkException — match the message, not the
    // wrapper class
    val rem = intercept[Exception](
      Seq(Seq.fill(10)(1)).toDF("bits")
        .select(ChurroFunctions.bits_pack($"bits", 8)).collect())
    assert(rem.getMessage.contains("do not fill whole"))
    // a null slot read through getInt returns garbage — must throw instead
    val nul = intercept[Exception](
      Seq(Seq[Option[Int]](Some(1), None, Some(0), Some(1), Some(1), Some(0), Some(1), Some(0)))
        .toDF("bits").select(ChurroFunctions.bits_pack($"bits", 8)).collect())
    assert(nul.getMessage.contains("null bit"))
  }

  test("heavy_hitters: exact when distinct keys fit the bound, any partitioning") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    // 12 distinct tokens, deterministic skewed counts (token i appears
    // 3*(12-i)+1 times), shipped as per-row arrays like the catalog query
    val tokens = (0 until 12).flatMap(i => Seq.fill(3 * (12 - i) + 1)(f"t$i%02d"))
    val truth = tokens.groupBy(identity).map { case (w, xs) => w -> xs.size.toLong }
    val docs = tokens.grouped(7).map(_.toSeq).toSeq
    for (parts <- Seq(1, 5)) { // single buffer vs partials + merge
      val got = docs.toDF("ws").repartition(parts)
        .agg(ChurroFunctions.heavy_hitters($"ws", 16, 12).as("hh"))
        .select(explode($"hh").as("h")).select($"h.token", $"h.cnt")
        .collect().map(r => r.getString(0) -> r.getLong(1)).toSeq
      // exact counts AND the (cnt desc, token asc) order
      assert(got == truth.toSeq.sortBy { case (w, c) => (-c, w) })
    }
  }

  test("heavy_hitters: Misra-Gries ε-bound and head survival under m << vocab") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    // Zipf-ish stream: 4-key head carrying half the mass over a 500-key
    // tail, deterministically interleaved; m = 16 counters over 504
    // distinct keys — compress fires constantly
    val head = (0 until 4).flatMap(i => Seq.fill(800 - 100 * i)(s"h$i"))
    val tail = (0 until 2600).map(i => f"w${i % 500}%03d")
    val stream = (head ++ tail).zipWithIndex
      .sortBy { case (w, i) => (i * 2654435761L) % 5501 } // deterministic shuffle
      .map(_._1)
    val n = stream.size
    val m = 16
    val truth = stream.groupBy(identity).map { case (w, xs) => w -> xs.size.toLong }
    val got = stream.grouped(11).map(_.toSeq).toSeq.toDF("ws").repartition(4)
      .agg(ChurroFunctions.heavy_hitters($"ws", m, m).as("hh"))
      .select(explode($"hh").as("h")).select($"h.token", $"h.cnt")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val eps = n.toDouble / (m + 1)
    // every estimate is an underestimate within N/(m+1)
    got.foreach { case (w, est) =>
      val t = truth(w)
      assert(est <= t, s"$w overestimated: $est > $t")
      assert(t - est <= eps, s"$w under by ${t - est} > eps $eps")
    }
    // every key with true count > N/(m+1) must survive (the MG guarantee);
    // all four planted head keys clear that bar by construction
    (0 until 4).foreach { i =>
      assert(truth(s"h$i") > eps && got.contains(s"h$i"), s"head key h$i evicted")
    }
  }

  test("heavy_hitters: null arrays and null elements contribute nothing") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val got = Seq(Some(Seq(Some("a"), None, Some("a"))), None, Some(Seq(Some("b"))))
      .toDF("ws")
      .agg(ChurroFunctions.heavy_hitters($"ws", 8, 8).as("hh"))
      .select(explode($"hh").as("h")).select($"h.token", $"h.cnt")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toSeq
    assert(got == Seq("a" -> 2L, "b" -> 1L))
  }

  test("registry-based registration works on a plain session") {
    ChurroFunctions.register(spark)
    assert(spark.sql("SELECT churro_normalize('A  B')").collect()(0).getString(0) == "a b")
  }

  test("mojibake_fix: 2/3-byte repair, cp1252 specials, negatives preserved, fixpoint") {
    import graft.text.Mojibake.fix
    assert(fix("cafÃ© niÃ±o Ã¼ber") == "café niño über")
    // 3-byte punctuation through the cp1252 specials (€ ” “ ˜ ™ ‚ „)
    assert(fix("â€” x â€“") == "— x –")
    assert(fix("â€˜qâ€™") == "‘q’")
    assert(fix("â‚¬ 3 â„¢") == "€ 3 ™")
    // 4-byte (emoji): F0 9F 98 80 = 😀 under cp1252 specials ˜ €
    assert(fix("ðŸ˜€") == new String(Character.toChars(0x1F600)))
    // negatives: lead byte with no continuation, lone continuation, ascii
    assert(fix("Ã plain") == "Ã plain")
    assert(fix("lone â end") == "lone â end")
    assert(fix("plain ascii!") == "plain ascii!")
    // overlong (C0 80) and surrogate (ED A0 80) encodings never repair
    assert(fix("À") == "À")
    assert(fix("í ") == "í ")
    // repaired text is a fixpoint: a second pass changes nothing
    val once = fix("cafÃ© â€”")
    assert(fix(once) == once)
    // the expression path stays inside whole-stage codegen (non-foldable
    // input — a literal constant-folds into a LocalTableScan)
    import org.apache.spark.sql.functions.{concat, lit, col}
    val df = spark.range(3)
      .select(ChurroFunctions.mojibake_fix(
        concat(lit("cafÃ© "), col("id").cast("string"))).as("f"))
    assert(df.queryExecution.executedPlan.toString.contains("*(1)"))
    assert(df.collect()(0).getString(0) == "café 0")
  }

  test("unicode_nfc: composes combining marks, fixpoint on composed text") {
    import spark.implicits._
    val df = Seq(("résumé", "café")).toDF("a", "b")
      .select(ChurroFunctions.unicode_nfc($"a").as("a"),
        ChurroFunctions.unicode_nfc($"b").as("b"))
    val r = df.collect()(0)
    assert(r.getString(0) == "résumé")
    assert(r.getString(1) == "café")
  }

  test("bloom_might_contain: no false negatives, low fp rate, codegen, null edges") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val members = spark.range(500).select(md5(concat(lit("m"), col("id"))).as("sha"))
    val sketch = graft.ops.Queries.bloomSketchOf(members, fpp = 0.01)
    val probed = spark.range(500).select(
      ChurroFunctions.bloom_might_contain(
        lit(sketch), md5(concat(lit("m"), col("id")))).as("hit_in"),
      ChurroFunctions.bloom_might_contain(
        lit(sketch), md5(concat(lit("x"), col("id")))).as("hit_out"))
    // the probe must ride inside whole-stage codegen over the range scan
    val plan = probed.queryExecution.executedPlan.toString
    assert(plan.contains("*(1)"), s"expected a WholeStageCodegen stage:\n$plan")
    val rows = probed.collect()
    // the sketch-prefilter contract: a member can NEVER probe false
    assert(rows.forall(_.getBoolean(0)), "bloom false negative")
    // disjoint keys probe ~fpp; generous bound still proves real pruning
    val fp = rows.count(_.getBoolean(1))
    assert(fp < 25, s"expected ~1% false positives, got $fp/500")
    // null value and null sketch both yield null, not a crash
    val nulls = Seq(Option.empty[String]).toDF("s").select(
      ChurroFunctions.bloom_might_contain(lit(sketch), $"s").as("a"),
      ChurroFunctions.bloom_might_contain(lit(null).cast("binary"), lit("x")).as("b"))
      .collect()(0)
    assert(nulls.isNullAt(0) && nulls.isNullAt(1))
  }
}
