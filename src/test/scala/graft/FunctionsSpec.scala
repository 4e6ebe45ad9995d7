package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.RollingHash
import graft.functions.RollingHash.rolling_hash

class FunctionsSpec extends AnyFunSuite {

  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("rolling_hash codegen path matches the reference implementation") {
    val inputs = Seq("", "a", "hello world", "order matters", "matters order",
      "Ünïcödé 💡 bytes", "x" * 500)
    val got = inputs.toDF("s").select(col("s"), rolling_hash(col("s")).as("h"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    inputs.foreach { s =>
      assert(got(s) == RollingHash.eval(s.getBytes("UTF-8")), s"for '$s'")
    }
    // order sensitivity — the property the bag-of-words fingerprint lacks
    assert(got("order matters") != got("matters order"))
  }

  test("portable_hash60 kernel is bit-identical to the conv(substring(md5)) chain") {
    import graft.functions.PortableHash60.portable_hash60
    // unicode (multi-byte UTF-8), empty, long, and digest bytes whose top
    // bit is set (the sign-extension hazard in the byte assembly)
    val inputs = Seq("", "a", "42:hello", "9:the quick brown fox",
      "Ünïcödé 💡 bytes", "x" * 500, "0:", "7:多言語テキスト")
    val df = inputs.toDF("s")
    val got = df.select(col("s"), portable_hash60(col("s")).as("h"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val want = df.select(col("s"),
        conv(substring(md5(col("s")), 1, 15), 16, 10).cast("long").as("h"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    inputs.foreach(s => assert(got(s) == want(s), s"for '$s'"))
    // null propagates like the chain (null in, null out)
    val nullRow = Seq[Option[String]](None).toDF("s")
      .select(portable_hash60(col("s"))).head()
    assert(nullRow.isNullAt(0))
  }

  test("alphabet_render is row-identical to the HOF alphabet-slice formulation") {
    import graft.functions.AlphabetRender.alphabet_render
    import graft.operators.TextOps
    val alphabet = (0 until 128).map(i => (0x4E00 + i).toChar).mkString
    val seed = 41
    val inputs = Seq("", " ", "Hello World", "the quick  brown\tfox",
      "Ünïcödé wörds 💡 here", "singletoken", "  padded  ")
    for (sep <- Seq("", " ")) {
      val df = inputs.toDF("s")
      val hof = df.select(col("s"), array_join(
        transform(TextOps.tokens(col("s")),
          w => lit(alphabet).substr(
            pmod(TextOps.portableHash(w, seed), lit(128L)).cast("int") + lit(1),
            lit(1))), sep).as("r"))
        .collect().map(r => r.getString(0) -> r.getString(1)).toMap
      val got = df.select(col("s"),
          alphabet_render(col("s"), alphabet, seed, sep).as("r"))
        .collect().map(r => r.getString(0) -> r.getString(1)).toMap
      inputs.foreach(s => assert(got(s) == hof(s), s"for '$s' sep='$sep'"))
    }
  }

  test("hashedShingles equals hashShingles∘shingles across every flag combination") {
    import graft.operators.Dedup
    val docs = Seq(
      (1L, "The quick brown fox jumps over the lazy dog"),
      (2L, "short one"),
      (3L, "tiny"),
      (4L, ""),
      (5L, "  padded   whitespace\ttabs  "),
      (6L, "repeat repeat repeat repeat"),
      (7L, "Punct, strip! and; CASE folding?"),
      (8L, "漢字かな交じり latin 混合 text"),
      (9L, null.asInstanceOf[String])
    ).toDF("doc_id", "text")
    def rows(df: org.apache.spark.sql.DataFrame): Seq[(Long, Long)] =
      df.collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
        .sorted
    for {
      n <- Seq(1, 2, 3)
      dedup <- Seq(true, false)
      (norm, seg) <- Seq((false, false), (true, false), (false, true))
    } {
      val composed = rows(Dedup.hashShingles(
        Dedup.shingles(docs, "text", "doc_id", n, dedup = dedup,
          normalize = norm, segment = seg), "doc_id"))
      val fused = rows(Dedup.hashedShingles(docs, "text", "doc_id", n,
        dedup = dedup, normalize = norm, segment = seg))
      assert(fused == composed,
        s"n=$n dedup=$dedup normalize=$norm segment=$seg: " +
          s"${fused.size} vs ${composed.size} rows")
    }
  }

  test("rolling_hash registers as a SQL function") {
    RollingHash.register(spark)
    val got = spark.sql("SELECT rolling_hash('hello world') AS h").head().getLong(0)
    assert(got == RollingHash.eval("hello world".getBytes("UTF-8")))
  }

  test("dot_product native expression is bit-identical to zip_with+aggregate") {
    import spark.implicits._
    import graft.operators.Similarity
    // synthetic pair including negatives, zeros, and magnitudes apart
    val df = Seq((
      Array(0.1, -2.5, 3.75, 0.0, 1e-9, 123.456),
      Array(1.5, 2.25, -0.125, 4.0, -7.5, 0.001)
    )).toDF("x", "y")
    val r = df.select(
      Similarity.cosine(col("x"), col("y")).as("native"),
      Similarity.cosineHof(col("x"), col("y")).as("hof")).head()
    assert(r.getDouble(0) == r.getDouble(1)) // exact, not approx
    // and over the real embeddings table: every row bit-equal on a
    // self-pair and against a broadcast query vector
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    val q = org.apache.spark.sql.functions.broadcast(
      e.where(col("vec_id") === 0).select(col("v").as("qv")))
    val diffs = e.crossJoin(q).where(
        Similarity.cosine(col("v"), col("qv")) =!=
          Similarity.cosineHof(col("v"), col("qv")))
      .count()
    assert(diffs == 0)
  }

  test("GraftExtensions installs rolling_hash without an imperative register") {
    // newSession() builds a fresh SessionState: the temp function installed
    // by register() above is gone, but the extensions-injected one (from
    // spark.sql.extensions=graft.GraftExtensions on the test session) stays
    val fresh = spark.newSession()
    val got = fresh.sql("SELECT rolling_hash('hello world') AS h").head().getLong(0)
    assert(got == RollingHash.eval("hello world".getBytes("UTF-8")))
    // dot_product rides the same extension point
    val dp = fresh.sql(
      "SELECT dot_product(array(1.0d, 2.0d, 3.0d), array(4.0d, 5.0d, 6.0d)) AS d")
      .head().getDouble(0)
    assert(dp == 32.0)
  }

  test("lsh_bucket native expression runs in codegen and matches interpreted eval") {
    import graft.functions.LshBucket.lsh_bucket
    // codegen source so the Project is whole-stage compiled
    val df = spark.range(50)
      .select(col("id"),
        lsh_bucket(array((0 until 8).map(d => cos(col("id") * 3 + lit(d))): _*), 8, 8)
          .as("b"))
    val rows = df.collect()
    val plan = df.queryExecution.executedPlan.toString
    assert("""\*\(\d+\) Project""".r.findFirstIn(plan).isDefined, plan.take(1000))
    // interpreted path (eval) agrees with the codegen'd result
    rows.foreach { r =>
      val e = (0 until 8).map(d => math.cos(r.getLong(0) * 3 + d))
      var expect = 0L
      for (p <- 0 until 8) {
        val s = (0 until 8).foldLeft(0.0)((acc, d) =>
          acc + e(d) * graft.operators.Similarity.planeCoefJvm(p, d))
        if (s > 0) expect |= (1L << p)
      }
      assert(r.getLong(1) == expect, s"id=${r.getLong(0)}")
    }
    // SQL surface via GraftExtensions injection
    val viaSql = spark.sql("SELECT lsh_bucket(array(1.0d, -2.0d), 4, 2) AS b")
      .head().getLong(0)
    val viaCol = spark.range(1)
      .select(lsh_bucket(array(lit(1.0), lit(-2.0)), 4, 2)).head().getLong(0)
    assert(viaSql == viaCol)
  }

  test("rolling_hash stays inside whole-stage codegen") {
    // spark.range is a codegen source (a literal local table would be
    // constant-folded into a LocalTableScan via the interpreted path)
    val df = spark.range(100)
      .select(rolling_hash(concat(lit("doc "), col("id"))).as("h"))
    val rows = df.collect()
    val plan = df.queryExecution.executedPlan.toString
    // a codegen'd project stage prints as *(n) Project
    assert("""\*\(\d+\) Project""".r.findFirstIn(plan).isDefined, plan.take(1000))
    assert(rows.map(_.getLong(0)).toSet ==
      (0 until 100).map(i => RollingHash.eval(s"doc $i".getBytes("UTF-8"))).toSet)
  }

  test("bucketed tables join without a shuffle exchange") {
    val wh = spark.conf.get("spark.sql.warehouse.dir")
    assume(wh.contains("tmp") || wh.contains("target"))
    val left = (1 to 1000).map(i => (i.toLong, i * 2.0)).toDF("k", "v")
    val right = (1 to 1000).map(i => (i.toLong, s"n$i")).toDF("k", "name")
    left.write.mode("overwrite").bucketBy(8, "k").sortBy("k")
      .saveAsTable("graft_bl")
    right.write.mode("overwrite").bucketBy(8, "k").sortBy("k")
      .saveAsTable("graft_br")
    val joined = spark.table("graft_bl").join(spark.table("graft_br"), "k")
    withAutoBroadcastOff {
      val j = spark.table("graft_bl").join(spark.table("graft_br"), "k")
      j.collect()
      val plan = j.queryExecution.executedPlan.toString
      assert(plan.contains("SortMergeJoin"), plan.take(1500))
      // co-located buckets: no shuffle Exchange feeding the join
      assert(!plan.contains("Exchange hashpartitioning"), plan.take(2500))
    }
    assert(joined.count() == 1000)
  }

  test("pq_encode native kernel is bit-identical to the HOF spec (incl. ties)") {
    import graft.operators.Similarity
    val rnd = new scala.util.Random(23)
    val vecs = ((0L until 50L).map(i =>
        (i, Array.fill(16)((rnd.nextDouble() * 4 - 2).toFloat))) ++
      // exact-tie rows: both halves equidistant from seeded entries
      Seq((50L, Array.fill(16)(0.5f)), (51L, Array.fill(16)(-0.5f))))
      .toDF("vec_id", "embedding")
    val cb = Similarity.pqCollect(
      Similarity.pqTrain(vecs, "vec_id", "embedding",
        m = 4, dsub = 4, ksub = 4, iters = 1), m = 4, dsub = 4, ksub = 4)
    val both = vecs.select(col("vec_id"),
        Similarity.pqEncodeCol(col("embedding"), cb).as("native"),
        Similarity.pqEncodeColHof(col("embedding"), cb).as("hof"))
      .collect()
    both.foreach { r =>
      assert(r.getSeq[Int](1) == r.getSeq[Int](2),
        s"vec ${r.getLong(0)}: native ${r.getSeq[Int](1)} vs hof ${r.getSeq[Int](2)}")
    }
    // short vector -> null (documented), not a crash
    val nulls = Seq((99L, Array(1.0f, 2.0f))).toDF("vec_id", "embedding")
      .select(Similarity.pqEncodeCol(col("embedding"), cb)).collect()
    assert(nulls.head.isNullAt(0))
  }

  test("nearest_centroid native kernel is bit-identical to the array_max spec (incl. ties)") {
    import graft.operators.Similarity
    val rnd = new scala.util.Random(29)
    val cents = (0L until 8L).map(c => c -> Seq.fill(16)(rnd.nextDouble() * 2 - 1))
    val vecs = (0L until 60L).map(i =>
        (i, Array.fill(16)(rnd.nextDouble() * 2 - 1)))
      .toDF("vec_id", "embedding")
    // exact ties: two IDENTICAL centroids under different ids — every
    // vector ties exactly, the smaller cell must win in both forms
    val tied = Seq(3L -> cents(5)._2, 5L -> cents(5)._2)
    val spec = Similarity.assignCellsLitHof(vecs, "vec_id", "embedding", tied)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val native = Similarity.assignCellsLit(vecs, "vec_id", "embedding", tied)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(native == spec, "tie handling must match the struct-max spec")
    assert(native.forall(_._2 == 3L),
      "identical centroids must resolve to the smaller cell")
    val specF = Similarity.assignCellsLitHof(vecs, "vec_id", "embedding", cents)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val nativeF = Similarity.assignCellsLit(vecs, "vec_id", "embedding", cents)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(nativeF == specF, "full assignment must be bit-identical")
  }

  test("nearest_centroid: zero-norm input matches the spec (smallest cell, NaN) in both forms") {
    import graft.operators.Similarity
    val cents = Seq(7L -> Seq(1.0, 0.0), 3L -> Seq(0.0, 1.0))
    val vecs = Seq((1L, Array(0.0, 0.0))).toDF("vec_id", "embedding")
    def one(df: org.apache.spark.sql.DataFrame): (Long, Long, Double) = {
      val r = df.collect().head
      (r.getLong(0), r.getLong(1), r.getDouble(2))
    }
    val spec = one(Similarity.assignCellsLitHof(vecs, "vec_id", "embedding", cents))
    val native = one(Similarity.assignCellsLit(vecs, "vec_id", "embedding", cents))
    assert(spec._2 == 3L && spec._3.isNaN,
      s"spec form must yield (smallest cell, NaN): $spec")
    assert(native._2 == spec._2 &&
      (native._3.isNaN == spec._3.isNaN),
      s"kernel must match the spec on degenerate vectors: $native vs $spec")
  }

  test("TextOps.lower and TextOps.tokens equal Spark's lower and split(trim(lower)) row for row") {
    import org.scalacheck.Gen
    import org.scalacheck.rng.Seed
    import graft.operators.TextOps
    // code points where the ICU and java.lang.String case tables, ASCII
    // fast paths, final-sigma context or surrogate pairs could diverge
    val pool = Seq("a", "Z", "q", "0", " ", " ", "\t", "\n", "\r", "\f", "\u000B",
      "À", "ß", "ÿ", "É", "Σ", "σ", "ς", "Ω", "İ", "ı", "I", "ǅ", "ẞ",
      "漢", "字", "\uD835\uDD38", "\uD83D\uDE42", "\u0301", "Ꭰ", "\u00A0", "\u2028",
      // capitals newer than the JDK's Unicode tables (Unicode 14 and 16)
      "\u2C2F", "\uA7C0", "\uD801\uDD70", "\u1C89")
    val word = Gen.listOf(Gen.oneOf(pool)).map(_.mkString)
    val generated = Gen.listOfN(300, word).pureApply(Gen.Parameters.default, Seed(20261020L))
    val fixed = Seq("", "ASCII Only Words", "Latin-1: ÀÉÎÕÜ ÿ", "ΟΔΟΣ ΣΑΣ Σ σΣ ΣΑΣ.",
      "İstanbul ıIiİ", "漢字 テキスト \uD835\uDD38\uD835\uDD39", "\tleading tab",
      "trailing   ", "trailing\n\n", "  both  \r\n", "x\u000By\fz")
      .map(_.getBytes("UTF-8"))
    // invalid UTF-8: a lone continuation byte, a truncated sequence, an
    // overlong encoding, a surrogate half, and invalid bytes beside ASCII
    val invalid = Seq(Array(0x80), Array(0x41, 0xC3), Array(0xC0, 0xAF, 0x20, 0x42),
      Array(0xED, 0xA0, 0x80), Array(0x48, 0xFF, 0x20, 0x20, 0x49, 0xFE))
      .map(_.map(_.toByte))
    val bytes: Seq[Option[Array[Byte]]] =
      (generated.map(_.getBytes("UTF-8")) ++ fixed ++ invalid).map(Some(_)) :+ None
    val base = bytes.zipWithIndex.map { case (b, i) => (i.toLong, b) }.toDF("id", "b")
      .select(col("id"), col("b").cast("string").as("s"))
    val key = "spark.sql.icu.caseMappings.enabled"
    val prev = spark.conf.getOption(key)
    try {
      for (icu <- Seq("true", "false"); codegen <- Seq(false, true)) {
        spark.conf.set(key, icu)
        // a projection over a local relation is folded on the driver
        // (interpreted); above an exchange it is compiled
        val src = if (codegen) base.repartition(2) else base
        val rows = src.select(col("id"), col("s"),
            (lower(col("s")) <=> TextOps.lower(col("s"))).as("lower_eq"),
            (split(trim(lower(col("s"))), "\\s+") <=> TextOps.tokens(col("s"))).as("tokens_eq"))
          .collect()
        assert(rows.length == bytes.size)
        val bad = rows.filterNot(r => r.getBoolean(2) && r.getBoolean(3))
          .map(r => s"id ${r.getLong(0)}: ${Option(r.getString(1)).map(_.map(_.toInt.toHexString))}")
        assert(bad.isEmpty, s"icu=$icu codegen=$codegen: ${bad.mkString("; ")}")
      }
    } finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
    // the two settings really reach two case tables
    val newer = org.apache.spark.unsafe.types.UTF8String.fromString("\u2C2F\uA7C0")
    val kernel = graft.functions.TextKernel
    assert(kernel.lower(newer, icu = true) != kernel.lower(newer, icu = false))
  }

  private def withAutoBroadcastOff[A](body: => A): A = {
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try body
    finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }
}
