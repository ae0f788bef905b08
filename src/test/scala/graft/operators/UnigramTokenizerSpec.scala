package graft.operators

import graft.{RunScope, SparkSpec}

/** Pins [[UnigramTokenizer]] against a DRIVER-SIDE reference EM — an
  * independent plain-Scala implementation of the same pinned algorithm
  * (substring seed, nano-quantized log-probs, Viterbi with
  * score-DESC/len-ASC ties, Laplace hard-EM over the fixed vocabulary).
  */
class UnigramTokenizerSpec extends SparkSpec {
  import spark.implicits._

  // ---- driver-side reference ----

  private def quant(x: Double): Long =
    (BigDecimal(math.log(x)).setScale(9, BigDecimal.RoundingMode.HALF_UP)
      * BigDecimal(1000000000L)).toLongExact

  private def refWords(texts: Seq[String], maxWordLen: Int): Map[String, Long] =
    texts.flatMap { t =>
      val s = Option(t).getOrElse("").trim.toLowerCase
      if (s.isEmpty) Seq.empty else s.split("\\s+").toSeq
    }.filter(w => w.nonEmpty && w.length <= maxWordLen)
      .groupBy(identity).map { case (w, ws) => w -> ws.size.toLong }

  private def refSeed(
      wc: Map[String, Long], maxPieceLen: Int, topPieces: Int): Map[String, Long] = {
    val subs = scala.collection.mutable.Map.empty[String, Long]
    wc.foreach { case (w, c) =>
      for (ps <- 0 until w.length; ln <- 1 to maxPieceLen
           if ps + ln <= w.length) {
        val p = w.substring(ps, ps + ln)
        subs(p) = subs.getOrElse(p, 0L) + c
      }
    }
    val multi = subs.toSeq.filter(_._1.length > 1)
      .sortBy { case (p, f) => (-f, p) }.take(topPieces)
    val vocab = (multi ++ subs.toSeq.filter(_._1.length == 1)).toMap
    val tot = vocab.values.sum
    vocab.map { case (p, f) => p -> quant(f.toDouble / tot) }
  }

  private def refViterbi(
      w: String, pieces: Map[String, Long],
      maxPieceLen: Int): (Long, Seq[String]) = {
    val best = Array.fill[Long](w.length + 1)(Long.MinValue)
    val lens = Array.fill[Int](w.length + 1)(0)
    best(0) = 0L
    for (pos <- 1 to w.length) {
      var bs = Long.MinValue; var bl = 0
      for (ln <- 1 to math.min(maxPieceLen, pos)) {
        pieces.get(w.substring(pos - ln, pos)).foreach { lp =>
          val s = best(pos - ln) + lp
          if (s > bs || (s == bs && ln < bl)) { bs = s; bl = ln }
        }
      }
      best(pos) = bs; lens(pos) = bl
    }
    var pos = w.length
    val seg = scala.collection.mutable.ListBuffer.empty[String]
    while (pos > 0) { val l = lens(pos); w.substring(pos - l, pos) +=: seg; pos -= l }
    (best(w.length), seg.toList)
  }

  private def refTrain(
      texts: Seq[String], rounds: Int, maxPieceLen: Int = 4,
      topPieces: Int = 250, maxWordLen: Int = 12): Seq[(String, Long, Long, Int, String)] = {
    val wc = refWords(texts, maxWordLen)
    val seed = refSeed(wc, maxPieceLen, topPieces)
    var pieces = seed
    (1 to rounds).foreach { _ =>
      val used = scala.collection.mutable.Map.empty[String, Long]
      wc.foreach { case (w, c) =>
        refViterbi(w, pieces, maxPieceLen)._2.foreach { p =>
          used(p) = used.getOrElse(p, 0L) + c
        }
      }
      val est = seed.keys.map(p => p -> (used.getOrElse(p, 0L) + 1L)).toMap
      val tot = est.values.sum
      pieces = est.map { case (p, f) => p -> quant(f.toDouble / tot) }
    }
    wc.toSeq.sortBy(_._1).map { case (w, c) =>
      val (s, seg) = refViterbi(w, pieces, maxPieceLen)
      (w, c, s, seg.size, seg.mkString("|"))
    }
  }

  // ---- specs ----

  private val corpus = Seq(
    (1L, "internationalization needs tokenization and normalization"),
    (2L, "the tokenizer segments words into subword pieces"),
    (3L, "subword pieces share statistics across words and words"),
    (4L, "the pieces the model keeps are the frequent ones"),
    (5L, "tokenization tokenization tokenization of rare words"),
    (6L, "a ab abc abcd abcde"),
    (7L, "statistics of the segments drive the segmentation"))

  test("engine EM matches the driver-side reference, two rounds") {
    val got = UnigramTokenizer
      .trainAndSegment(corpus.toDF("doc_id", "text"), "text", rounds = 2)
      .orderBy("w")
      .as[(String, Long, Long, Int, String)].collect().toSeq
    val want = refTrain(corpus.map(_._2), rounds = 2)
    assert(got === want)
  }

  test("single chars guarantee coverage: unseen-bigram words still segment") {
    val df = Seq((1L, "zq zq xyzzy")).toDF("doc_id", "text")
    val got = UnigramTokenizer.trainAndSegment(df, "text", rounds = 1)
      .orderBy("w").as[(String, Long, Long, Int, String)].collect().toSeq
    val want = refTrain(Seq("zq zq xyzzy"), rounds = 1)
    assert(got === want)
    assert(got.map(_._1) === Seq("xyzzy", "zq"))
  }

  test("applyByVocab: per-doc digest matches a per-occurrence reference") {
    import org.apache.spark.sql.functions.col
    val df = corpus.toDF("doc_id", "text")
    val pieces = UnigramTokenizer.trainPieces(df, "text", rounds = 2)
    val got = UnigramTokenizer
      .applyByVocab(df, "doc_id", "text", pieces)
      .select("doc_id", "n_words", "n_words_long", "n_pieces", "tok_digest")
      .orderBy("doc_id")
      .as[(Long, Int, Int, Long, Long)].collect().toSeq
    org.apache.spark.sql.graft.bridge.freeLocalCheckpoint(pieces)
    // reference: train via refTrain, then walk every occurrence
    val segOf = refTrain(corpus.map(_._2), rounds = 2)
      .map(r => r._1 -> r._5.split('|').toSeq).toMap
    val want = corpus.map { case (id, text) =>
      val ws = text.trim.toLowerCase.split("\\s+").toSeq.filter(_.nonEmpty)
      var digest = 0L; var nPieces = 0L; var nLong = 0
      ws.zipWithIndex.foreach { case (w, wi0) =>
        if (w.length > 12) nLong += 1
        else {
          val seg = segOf(w)
          nPieces += seg.size
          seg.zipWithIndex.foreach { case (p, si0) =>
            digest += p.length.toLong * ((wi0 + 1L) * 31L + (si0 + 1L))
          }
        }
      }
      (id, ws.size, nLong, nPieces, digest)
    }
    assert(got === want)
  }

  test("applyByVocab: over-long words are counted but contribute no pieces") {
    import org.apache.spark.sql.functions.col
    val df = Seq(
      (1L, "short words only here"),
      (2L, "a veryverylongtoken13 b")).toDF("doc_id", "text")
    val pieces = UnigramTokenizer.trainPieces(df, "text", rounds = 1)
    val got = UnigramTokenizer
      .applyByVocab(df, "doc_id", "text", pieces)
      .select("doc_id", "n_words", "n_words_long", "n_pieces", "tok_digest")
      .orderBy("doc_id")
      .as[(Long, Int, Int, Long, Long)].collect().toSeq
    org.apache.spark.sql.graft.bridge.freeLocalCheckpoint(pieces)
    assert(got(0)._2 === 4)
    assert(got(0)._3 === 0)
    assert(got(1)._2 === 3)         // all words counted
    assert(got(1)._3 === 1)         // the 21-char token is ineligible
    // digest covers only the eligible words: positions 1 and 3
    assert(got(1)._4 >= 2L)
  }

  test("piece persistence: write/load round-trips and inference is identical") {
    import org.apache.spark.sql.functions.col
    val df = corpus.toDF("doc_id", "text")
    val pieces = UnigramTokenizer.trainPieces(df, "text", rounds = 2)
    val dir = RunScope.scratchDir("unigram_model")
    UnigramTokenizer.writePieces(pieces, maxPieceLen = 4, dir)
    val (loaded, p) = UnigramTokenizer.loadPieces(spark, dir)
    assert(p === 4)
    def infer(ps: org.apache.spark.sql.DataFrame) = UnigramTokenizer
      .applyByVocab(df, "doc_id", "text", ps)
      .orderBy("doc_id")
      .select("doc_id", "n_pieces", "tok_digest", "sum_score_nanos")
      .as[(Long, Long, Long, Long)].collect().toSeq
    assert(infer(loaded) === infer(pieces))
    // truncated artifact fails loudly (fewer pieces than declared)
    pieces.limit(1).write.mode("overwrite").parquet(s"$dir/pieces")
    intercept[IllegalArgumentException] {
      UnigramTokenizer.loadPieces(spark, dir)
    }
    org.apache.spark.sql.graft.bridge.freeLocalCheckpoint(pieces)
  }

  test("OOV floor: chars the trainer never saw segment at the floor score") {
    import org.apache.spark.sql.functions.col
    val train = Seq((1L, "abc abc bcd")).toDF("doc_id", "text")
    val pieces = UnigramTokenizer.trainPieces(train, "text", rounds = 1)
    val lpns = pieces.select("lpn").as[Long].collect()
    val floor = lpns.min - 1000000000L
    // 'xyz' shares no characters with the training corpus at all;
    // 'axc' mixes seen and unseen
    val infer = Seq((1L, "xyz axc abc")).toDF("doc_id", "text")
    val got = UnigramTokenizer
      .applyByVocab(infer, "doc_id", "text", pieces)
      .select("doc_id", "n_words", "n_pieces", "sum_score_nanos")
      .as[(Long, Int, Long, Long)].collect().head
    org.apache.spark.sql.graft.bridge.freeLocalCheckpoint(pieces)
    assert(got._2 === 3)
    // xyz -> 3 floor chars; axc -> a + 2 floor-or-vocab; abc -> 1 piece
    assert(got._3 >= 5L)
    // the score carries exactly the floor for each unseen char: the
    // total must be <= 5 floors + anything (floors dominate negatively)
    assert(got._4 <= 4L * floor) // at least 4 unseen chars hit the floor
  }

  test("tie-break is pinned: equal scores prefer the shorter piece") {
    // craft equal-frequency pieces so a tie arises; both implementations
    // must agree — the assertion is engine == reference, plus the
    // resulting segmentation is deterministic across repeated runs
    val df = Seq((1L, "aa aa bb bb aabb bbaa")).toDF("doc_id", "text")
    val r1 = UnigramTokenizer.trainAndSegment(df, "text", rounds = 2)
      .orderBy("w").as[(String, Long, Long, Int, String)].collect().toSeq
    val r2 = UnigramTokenizer.trainAndSegment(df, "text", rounds = 2)
      .orderBy("w").as[(String, Long, Long, Int, String)].collect().toSeq
    assert(r1 === r2)
    assert(r1 === refTrain(Seq("aa aa bb bb aabb bbaa"), rounds = 2))
  }
}
