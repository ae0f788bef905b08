package graft

class GraftExtensionsSpec extends SparkSpec {

  test("vec_dot is callable from SQL after runtime registration") {
    import spark.implicits._
    Seq((Seq(1.0f, 2.0f), Seq(3.0f, 4.0f))).toDF("a", "b").createOrReplaceTempView("v")
    try {
      val got = spark.sql("SELECT vec_dot(a, b) AS d FROM v").collect()(0).getDouble(0)
      assert(got === 11.0)
      // type misuse surfaces as an analysis error with the declared types
      val err = intercept[Exception](spark.sql("SELECT vec_dot(1, 2)").collect())
      assert(err.getMessage.toLowerCase.contains("array<float>"))
    } finally spark.sql("DROP VIEW IF EXISTS v")
  }

  test("nfc_normalize / utf8_decode_lenient are callable from SQL") {
    val nfc = spark.sql(
      s"SELECT nfc_normalize('e${"\u0301"}clair') AS s")
      .collect()(0).getString(0)
    assert(nfc === "\u00E9clair")
    val dec = spark.sql(
      "SELECT utf8_decode_lenient(cast(x'6f6bc378ff7a' AS BINARY)) AS s")
      .collect()(0).getString(0)
    assert(dec === "ok\uFFFDx\uFFFDz")
  }

  test("gzip_inflate / gzip_members are callable from SQL") {
    import spark.implicits._
    def gz(payload: Array[Byte]): Array[Byte] = {
      val bos = new java.io.ByteArrayOutputStream()
      val g = new java.util.zip.GZIPOutputStream(bos)
      g.write(payload); g.close(); bos.toByteArray
    }
    val a = "first member".getBytes("UTF-8")
    val b = "second member".getBytes("UTF-8")
    Seq(Tuple1(gz(a) ++ gz(b))).toDF("g").createOrReplaceTempView("gzv")
    try {
      val m = spark.sql(
        "SELECT transform(gzip_members(g, 8, 1048576), " +
          "x -> decode(x, 'UTF-8')) AS t FROM gzv")
        .collect()(0).getAs[scala.collection.Seq[String]](0)
      assert(m.toSeq === Seq("first member", "second member"))
      // strict single-member form rejects a two-member chain
      assert(spark.sql("SELECT gzip_inflate(g, 1048576) FROM gzv")
        .collect()(0).isNullAt(0))
      assert(spark.sql("SELECT gzip_members(CAST('x' AS BINARY), 8, 100)")
        .collect()(0).isNullAt(0))
    } finally spark.sql("DROP VIEW IF EXISTS gzv")
  }

  test("every graft function is registry-visible on a fresh session") {
    val fresh = spark.newSession()
    GraftExtensions.functions.foreach { case (id, _, _) =>
      assert(fresh.catalog.functionExists(id.funcName), id.funcName)
    }
  }

  test("zlib_inflate / png_pixels / gif_pixels are callable from SQL") {
    import spark.implicits._
    val raw = "the decode kernels ride the SQL surface too".getBytes("UTF-8")
    val z = {
      val d = new java.util.zip.Deflater(); d.setInput(raw); d.finish()
      val buf = new Array[Byte](256); val n = d.deflate(buf); d.end(); buf.take(n)
    }
    Seq(Tuple1(z)).toDF("z").createOrReplaceTempView("zv")
    try {
      val got = spark.sql(s"SELECT zlib_inflate(z, ${raw.length}) AS r FROM zv")
        .collect()(0).getAs[Array[Byte]](0)
      assert(got.toSeq === raw.toSeq)
      // cap guard: one byte short → NULL, never a partial buffer
      assert(spark.sql(s"SELECT zlib_inflate(z, ${raw.length - 1}) FROM zv")
        .collect()(0).isNullAt(0))
      // png_pixels / gif_pixels / jpeg_pixels resolve and null-reject
      // garbage payloads
      assert(spark.sql("SELECT png_pixels(CAST('x' AS BINARY), 100)")
        .collect()(0).isNullAt(0))
      assert(spark.sql("SELECT gif_pixels(CAST('x' AS BINARY), 100)")
        .collect()(0).isNullAt(0))
      assert(spark.sql("SELECT jpeg_pixels(CAST('x' AS BINARY), 100)")
        .collect()(0).isNullAt(0))
      // and jpeg_pixels decodes a real baseline file from SQL: a 1x1
      // gray JPEG under the q_m26 byte-aligned coding (DC=+8, q00=16 →
      // the single pixel is exactly 128 + 2*8 = 144)
      val jpegHex = "FFD8" + "FFDB004300" + "10" * 64 +
        "FFC40014" + "00" + "01" + "00" * 15 + "04" +
        "FFC40014" + "10" + "000001" + "00" * 13 + "00" +
        "FFC0000B08" + "0001" + "0001" + "01011100" +
        "FFDA00080101" + "00003F00" +
        "40" + "FFD9"
      val px = spark.sql(
        s"SELECT jpeg_pixels(unhex('$jpegHex'), 100) AS p")
        .collect()(0).getAs[Array[Byte]](0)
      assert(px != null && px.length == 1 && (px(0) & 0xFF) == 144)
    } finally spark.sql("DROP VIEW IF EXISTS zv")
  }

  test("levenshtein threshold rule rewrites all four orientations, exactly") {
    import spark.implicits._
    val words = Seq("abcd", "abce", "abef", "xyz", null)
    words.map(Tuple1(_)).toDF("w").createOrReplaceTempView("__lev_words")
    def lev(a: String, b: String): Int = {
      val d = Array.tabulate(a.length + 1, b.length + 1)((i, j) =>
        if (i == 0) j else if (j == 0) i else 0)
      for (i <- 1 to a.length; j <- 1 to b.length)
        d(i)(j) = math.min(math.min(d(i - 1)(j) + 1, d(i)(j - 1) + 1),
          d(i - 1)(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
      d(a.length)(b.length)
    }
    val present = words.filter(_ != null)
    try {
      for ((pred, keep) <- Seq(
          ("levenshtein(a.w, b.w) <= 2", (d: Int) => d <= 2),
          ("2 >= levenshtein(a.w, b.w)", (d: Int) => d <= 2),
          ("levenshtein(a.w, b.w) < 2", (d: Int) => d < 2),
          ("2 > levenshtein(a.w, b.w)", (d: Int) => d < 2))) {
        val df = spark.sql(
          s"SELECT a.w AS wa, b.w AS wb FROM __lev_words a JOIN __lev_words b ON a.w < b.w WHERE $pred")
        val rewritten = df.queryExecution.optimizedPlan.collect {
          case p => p.expressions.flatMap(_.collect {
            case l: org.apache.spark.sql.catalyst.expressions.Levenshtein
                if l.threshold.isDefined => l
          })
        }.flatten
        assert(rewritten.nonEmpty, s"rule must fire for: $pred")
        val got = df.collect().map(r => (r.getString(0), r.getString(1))).toSet
        val want = (for {
          a <- present; b <- present if a < b && keep(lev(a, b))
        } yield (a, b)).toSet
        assert(got === want, s"semantics must be unchanged for: $pred")
      }
      // shapes the rule must NOT touch: column threshold, negative literal
      val untouched = spark.sql(
        "SELECT a.w FROM __lev_words a JOIN __lev_words b ON a.w < b.w WHERE levenshtein(a.w, b.w) <= -1")
      assert(untouched.collect().isEmpty, "lev <= -1 stays an always-false filter")
    } finally spark.sql("DROP VIEW IF EXISTS __lev_words")
  }

  test("SQL minhash_signature and hyperplane_signature equal the DSL forms") {
    Tables.load(spark, sf(), "documents").orderBy("doc_id").limit(50).createOrReplaceTempView("__docs_ext")
    val sqlSig = spark.sql(
      """SELECT minhash_signature(split(lower(trim(text)), '\\s+'), 16) AS s
        |FROM __docs_ext ORDER BY doc_id""".stripMargin).collect().map(_.getSeq[Long](0))
    val dslSig = Tables.load(spark, sf(), "documents").orderBy("doc_id").limit(50)
      .select(graft.functions.Hashing.minHashSignature(
        org.apache.spark.sql.functions.split(
          org.apache.spark.sql.functions.lower(org.apache.spark.sql.functions.trim(
            org.apache.spark.sql.functions.col("text"))), "\\s+"), 16).as("s"))
      .collect().map(_.getSeq[Long](0))
    assert(sqlSig.toSeq === dslSig.toSeq)

    Tables.load(spark, sf(), "embeddings").orderBy("vec_id").limit(50).createOrReplaceTempView("__emb_ext")
    val sqlHp = spark.sql(
      "SELECT hyperplane_signature(embedding, 16, 4) AS h FROM __emb_ext ORDER BY vec_id")
      .collect().map(_.getLong(0))
    val dslHp = Tables.load(spark, sf(), "embeddings").orderBy("vec_id").limit(50)
      .select(graft.functions.Vectors.hyperplaneSignature(
        org.apache.spark.sql.functions.col("embedding"), 16, 4).as("h"))
      .collect().map(_.getLong(0))
    assert(sqlHp.toSeq === dslHp.toSeq)
  }

  test("jaro_winkler threshold rule injects the guard exactly once, soundly") {
    import spark.implicits._
    // lengths 2..12: the 0.93 guard (ratio >= 0.65) genuinely rejects
    // mismatched pairs; 'z'-typos of each name are genuine matches
    val names = Seq("ab", "abcd", "abcdefgh", "abcdefghijkl")
    val words = names ++ names.map(_ + "z")
    words.map(Tuple1(_)).toDF("w").createOrReplaceTempView("__jw_words")
    try {
      for (pred <- Seq(
          "jaro_winkler(a.w, b.w) >= 0.93", "0.93 <= jaro_winkler(a.w, b.w)",
          "jaro_winkler(a.w, b.w) > 0.93", "0.93 < jaro_winkler(a.w, b.w)")) {
        val df = spark.sql(
          s"SELECT a.w AS wa, b.w AS wb FROM __jw_words a JOIN __jw_words b ON a.w < b.w WHERE $pred")
        val exprs = df.queryExecution.optimizedPlan.collect {
          case p => p.expressions
        }.flatten
        val guards = exprs.flatMap(_.collect {
          case l: org.apache.spark.sql.catalyst.expressions.Least
              if l.children.exists(
                _.isInstanceOf[graft.expressions.Utf16Length]) => l
        })
        assert(guards.nonEmpty, s"guard must fire for: $pred")
        // fixed-point safety: the kernel appears exactly once per predicate
        // (a non-idempotent rule would stack guard towers)
        val kernels = exprs.flatMap(_.collect {
          case j: graft.expressions.JaroWinkler => j
        })
        assert(kernels.size === 1, s"exactly one kernel for: $pred, got ${kernels.size}")
        // soundness: result identical to the unguarded kernel evaluation
        val want = (for {
          a <- words; b <- words if a < b
          s = graft.expressions.JaroWinkler.similarity(a, b)
          if (if (pred.contains(">=") || pred.contains("<=")) s >= 0.93 else s > 0.93)
        } yield (a, b)).toSet
        val got = df.collect().map(r => (r.getString(0), r.getString(1))).toSet
        assert(got === want, s"semantics must be unchanged for: $pred")
        assert(want.nonEmpty, "the gate corpus must produce matches")
      }
      // below the useful threshold the rule must not touch the predicate
      val low = spark.sql(
        "SELECT a.w FROM __jw_words a JOIN __jw_words b ON a.w < b.w WHERE jaro_winkler(a.w, b.w) >= 0.5")
      val lowGuards = low.queryExecution.optimizedPlan.collect {
        case p => p.expressions.flatMap(_.collect {
          case l: org.apache.spark.sql.catalyst.expressions.Least
              if l.children.exists(
                _.isInstanceOf[graft.expressions.Utf16Length]) => l
        })
      }.flatten
      assert(lowGuards.isEmpty, "theta <= 0.8 yields a vacuous bound; no guard")
    } finally spark.sql("DROP VIEW IF EXISTS __jw_words")
  }

  test("jaro_winkler guard measures UTF-16 units: non-BMP pairs survive") {
    import spark.implicits._
    // 20 U+1F600 (40 UTF-16 units, 20 code points) vs the same + 13 ASCII
    // chars (53 units, 33 code points): jw = 0.9509... >= 0.95, but a guard
    // computed in CODE POINTS rejects it (21 < 0.75*33 = 24.75) while the
    // UTF-16 guard keeps it (41 >= 0.75*53 = 39.75) — the r11 ADVICE case.
    val emoji = "😀" * 20
    val longer = emoji + ("x" * 13)
    assert(graft.expressions.JaroWinkler.similarity(emoji, longer) >= 0.95)
    // the strings derive from the range id so the predicate is NOT
    // foldable — otherwise the optimizer evaluates the filter at plan
    // time and there is no guard left to inspect
    spark.range(1).selectExpr(
      "repeat('😀', 20 + cast(id as int)) AS a",
      "concat(repeat('😀', 20 + cast(id as int)), repeat('x', 13)) AS b")
      .createOrReplaceTempView("__jw_nonbmp")
    try {
      val df = spark.sql(
        "SELECT a FROM __jw_nonbmp WHERE jaro_winkler(a, b) >= 0.95")
      val guards = df.queryExecution.optimizedPlan.collect {
        case p => p.expressions.flatMap(_.collect {
          case l: graft.expressions.Utf16Length => l
        })
      }.flatten
      assert(guards.nonEmpty, "the rule must fire (theta = 0.95 > 0.8)")
      assert(df.count() === 1L,
        "the UTF-16 guard must not reject a pair whose jw clears theta")
    } finally spark.sql("DROP VIEW IF EXISTS __jw_nonbmp")
  }

  test("utf16_length kernel: ASCII, BMP multi-byte, supplementary, empty") {
    import org.apache.spark.unsafe.types.UTF8String
    def u16(s: String): Int =
      graft.expressions.Utf16Length.utf16Length(UTF8String.fromString(s))
    for (s <- Seq("", "abc", "café", "中文", "😀",
        "a😀bé", "😀" * 5 + "xy"))
      assert(u16(s) === s.length, s"utf16_length('$s')")
  }
}
