package graft.multimodal

import graft.SparkTestBase
import graft.ml.{PricePipeline, Recommender}
import graft.operators.TextOps
import org.apache.spark.sql.functions._

class TextMlMultimodalSpec extends SparkTestBase {

  test("token stats cover every document") {
    val got = TextOps.tokenStats(t).agg(sum("n_docs")).head().getLong(0)
    assert(got == t.documents.count())
  }

  test("length curriculum: stages partition the corpus, sizes differ by <= 1, lengths are monotone") {
    val stages = TextOps.lengthCurriculum(t).collect()
    assert(stages.map(_.getAs[Int]("stage")).toSeq == Seq(1, 2, 3, 4))
    val counts = stages.map(_.getAs[Long]("n_docs"))
    assert(counts.sum == t.documents.count())
    assert(counts.max - counts.min <= 1, "ntile stages must be equal-population within 1")
    // stage boundaries never interleave: each stage's max <= next stage's min
    stages.sliding(2).foreach {
      case Array(a, b) =>
        assert(a.getAs[Long]("max_chars") <= b.getAs[Long]("min_chars"),
          s"stage ${a.getAs[Int]("stage")} overlaps ${b.getAs[Int]("stage")}")
      case _ => ()
    }
  }

  test("calibrated quality: every language keeps ~90%, and keep counts recompute from the scores") {
    import graft.functions.TextFunctions.qualityScore
    val rows = TextOps.calibratedQualityCutoffs(t).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getDouble(2), r.getLong(3))).toMap
    val scored = t.documents
      .select(col("lang"), qualityScore(col("text")).as("q"))
      .collect().map(r => (r.getString(0), r.getDouble(1)))
    rows.foreach { case (lang, (nDocs, p10, nKept)) =>
      val qs = scored.filter(_._1 == lang).map(_._2)
      assert(nDocs == qs.length.toLong)
      assert(nKept == qs.count(_ >= p10).toLong, s"$lang keep count")
      // P10 calibration: at least 85% of every language survives, and the
      // cutoff sits inside the language's score range
      assert(nKept * 100 >= nDocs * 85, s"$lang over-filtered: $nKept of $nDocs")
      assert(p10 >= qs.min && p10 <= qs.max)
    }
    assert(rows.values.map(_._1).sum == t.documents.count())
  }

  test("bpe merges: match a driver-side reference trainer on the fixture corpus") {
    val got = TextOps.bpeMerges(t, nMerges = 4).collect()
      .map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getLong(3)))
    // reference trainer over the collected word-frequency dict
    var dict: Map[String, Long] = t.documents.select("text").collect()
      .flatMap(r => Option(r.getString(0)).toSeq)
      .flatMap(_.split("\\s+")).filter(_.nonEmpty)
      .groupBy(identity).map { case (w, ws) =>
        w.toCharArray.mkString(" ") -> ws.length.toLong }
    val want = (1 to 4).map { r =>
      val counts = scala.collection.mutable.Map.empty[String, Long]
      dict.foreach { case (seq, freq) =>
        val syms = seq.split(" ")
        syms.sliding(2).filter(_.length == 2).foreach { p =>
          val k = p.mkString(" ")
          counts(k) = counts.getOrElse(k, 0L) + freq
        }
      }
      val (pair, cnt) = counts.toSeq.minBy { case (p, c) => (-c, p) }
      val merged = pair.replace(" ", "")
      dict = dict.groupBy { case (seq, _) => seq.replace(pair, merged) }
        .map { case (seq, entries) => seq -> entries.values.sum }
      (r, pair, merged, cnt)
    }
    assert(got.toSeq == want)
  }

  test("bpe encode: per-language stats match a driver-side reference encoder") {
    val got = TextOps.bpeEncode(t, nMerges = 4).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
      .sortBy(_._1)
    // reference: train 4 merges on the GLOBAL corpus, then encode each
    // word (= the final dict state) and aggregate per language
    val docs = t.documents.select("lang", "text").collect()
      .map(r => (r.getString(0), Option(r.getString(1)).getOrElse("")))
    val allWords = docs.flatMap(_._2.split("\\s+")).filter(_.nonEmpty)
    val freqs = allWords.groupBy(identity)
      .map { case (w, ws) => w -> ws.length.toLong }
    var seqs: Map[String, String] =
      freqs.keysIterator.map(w => w -> w.toCharArray.mkString(" ")).toMap
    for (_ <- 1 to 4) {
      val counts = scala.collection.mutable.Map.empty[String, Long]
      seqs.foreach { case (w, seq) =>
        seq.split(" ").sliding(2).filter(_.length == 2).foreach { p =>
          val k = p.mkString(" ")
          counts(k) = counts.getOrElse(k, 0L) + freqs(w)
        }
      }
      val (pair, _) = counts.toSeq.minBy { case (p, c) => (-c, p) }
      val merged = pair.replace(" ", "")
      seqs = seqs.map { case (w, seq) => w -> seq.replace(pair, merged) }
    }
    val nToks = seqs.map { case (w, seq) => w -> seq.split(" ").length.toLong }
    val want = docs
      .flatMap { case (lang, text) =>
        text.split("\\s+").filter(_.nonEmpty).map(lang -> _) }
      .groupBy(_._1).map { case (lang, ws) =>
        val words = ws.map(_._2)
        val nw = words.length.toLong
        val nc = words.map(_.length.toLong).sum
        val nt = words.map(nToks).sum
        (lang, nw, nc, nt, nc * 10000L / nt)
      }.toSeq.sortBy(_._1)
    assert(got.toSeq == want)
    // the merges must have bought SOME compression somewhere, and tokens
    // can never exceed chars (every symbol is >= 1 char)
    assert(got.forall { case (_, nw, nc, nt, _) => nt <= nc && nt >= nw })
    assert(got.exists { case (_, _, nc, nt, _) => nt < nc })
  }

  test("quality classifier: tree reproduces the rule band and the fit is deterministic") {
    val (n, pos, acc) = graft.ml.QualityClassifier.stats(t)
    assert(n == t.documents.count())
    assert(pos > 0 && pos < n, "fixture must carry both classes")
    assert(acc >= 0.98, s"depth-5 tree must reproduce its axis-aligned teacher, got $acc")
    val (n2, pos2, acc2) = graft.ml.QualityClassifier.stats(t)
    assert((n, pos, acc) == ((n2, pos2, acc2)), "seeded fit must be deterministic in-session")
  }

  test("quality filter output is a subset with band-limited token counts") {
    val rows = TextOps.qualityFilter(t).collect()
    rows.foreach { r =>
      val n = r.getInt(3)
      assert(n >= 20 && n <= 100)
    }
  }

  test("fingerprints are deterministic across runs") {
    val a = TextOps.fingerprints(t).collect().map(r => r.getLong(0) -> r.getString(2)).toMap
    val b = TextOps.fingerprints(t).collect().map(r => r.getLong(0) -> r.getString(2)).toMap
    assert(a == b)
  }

  test("rolling hashes are deterministic md5-chain hex strings") {
    TextOps.rollingHashes(t).collect().foreach { r =>
      val h = r.getString(1)
      // every fixture doc has >1 token, so the chain always ends in an md5
      assert(h != null && h.matches("[0-9a-f]{32}"))
    }
  }

  test("topTokens: descending counts matching a brute-force word count") {
    val got = TextOps.topTokens(t, 20).collect()
      .map(r => r.getString(0) -> r.getLong(1))
    assert(got.length <= 20)
    assert(got.map(_._2).toSeq == got.map(_._2).sortBy(-_).toSeq)
    val brute = t.documents.select("text").collect()
      .flatMap(_.getString(0).split("\\s+"))
      .groupBy(identity).view.mapValues(_.length.toLong).toMap
    got.foreach { case (tok, n) => assert(brute(tok) == n, tok) }
  }

  test("zipfSlope: matches a driver-side OLS over the same ranking, and is negative") {
    val r = TextOps.zipfSlope(t).head()
    val (nRanks, slope) = (r.getLong(0), r.getDouble(1))
    assert(slope < 0.0, s"frequency must fall with rank, got slope $slope")
    val brute = t.documents.select("text").collect()
      .flatMap(_.getString(0).split("\\s+"))
      .groupBy(identity).view.mapValues(_.length.toLong).toSeq
      .sortBy { case (tok, n) => (-n, tok) }.take(100)
    // the synthetic corpus has a small closed vocabulary — rank what exists
    assert(nRanks == brute.length.toLong)
    def r6(v: Double) = math.floor(v * 1e6 + 0.5) / 1e6
    val xy = brute.zipWithIndex.map { case ((_, n), i) =>
      (r6(math.log(i + 1.0)), r6(math.log(n.toDouble)))
    }
    val k = xy.length.toDouble
    val (sx, sy)   = (xy.map(_._1).sum, xy.map(_._2).sum)
    val (sxy, sxx) = (xy.map(p => p._1 * p._2).sum, xy.map(p => p._1 * p._1).sum)
    val want = (k * sxy - sx * sy) / (k * sxx - sx * sx)
    // driver sums are plain doubles (engine sums are exact DECIMAL):
    // agreement to 1e-6 is all the orders can differ by over 100 terms
    assert(math.abs(slope - math.floor(want * 1e4 + 0.5) / 1e4) <= 1e-4,
      s"slope $slope vs brute-force $want")
  }

  test("bigramPerplexity: scores match a driver-side bigram-LM recompute; short docs drop out") {
    import graft.operators.TextOps
    import org.apache.spark.sql.functions._
    import spark.implicits._
    // driver-side model over the real fixture corpus
    val docs = t.documents.select("doc_id", "text").as[(Long, String)].collect()
    val toks = docs.map { case (id, tx) => id -> tx.split("\\s+").toSeq }
    val bigrams = toks.flatMap { case (id, tk) =>
      tk.sliding(2).filter(_.length == 2).map(p => (id, p.head, p.mkString(" ")))
    }
    val c12 = bigrams.groupBy(_._3).map { case (k, v) => k -> v.length }
    val c1 = bigrams.groupBy(_._2).map { case (k, v) => k -> v.length }
    val vocab = toks.flatMap(_._2).distinct.length
    def r6(x: Double) = math.floor(x * 1e6 + 0.5) / 1e6
    val expect = bigrams.groupBy(_._1).map { case (id, bs) =>
      // mirror decSum's double→DECIMAL(28,6) cast, which goes through the
      // double's SHORTEST DECIMAL STRING (Decimal.fromDouble), then HALF_UP
      val lnSum = bs.map(b =>
        BigDecimal(r6(math.log((c12(b._3) + 1).toDouble / (c1(b._2) + vocab).toDouble)).toString)
          .setScale(6, BigDecimal.RoundingMode.HALF_UP)).sum
      id -> (bs.length.toLong, r6((-lnSum.toDouble) / bs.length))
    }
    val got = TextOps.bigramPerplexity(t).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    assert(got.keySet == expect.keySet)
    // docs with <2 tokens have no bigrams and are absent
    val short = toks.filter(_._2.length < 2).map(_._1).toSet
    assert(short.intersect(got.keySet).isEmpty)
    expect.foreach { case (id, (n, nll)) =>
      assert(got(id)._1 == n, s"doc $id bigram count")
      assert(math.abs(got(id)._2 - nll) < 1e-9, s"doc $id nll: got ${got(id)._2} want $nll")
    }
    // a median tau splits the corpus — the keep flag is not vacuous
    val med = got.values.map(_._2).toSeq.sorted.apply(got.size / 2)
    val flags = TextOps.bigramPerplexity(t, med).collect().map(_.getBoolean(3))
    assert(flags.exists(identity) && flags.exists(!_))
    // scoring exchanges carry xxhash64 longs, never bigram text
    val inputs = exchangeInputs(TextOps.bigramPerplexity(t))
    // the vocabulary distinct-count is the one permitted string exchange
    assert(inputs.count(in => in.contains("sh#") || in.contains("text#")) == 0,
      s"a scoring exchange carries token text:\n${inputs.mkString("\n")}")
  }

  test("bm25TopK: scores match a driver-side BM25 recompute; ranking is the true order") {
    import graft.operators.TextOps
    import spark.implicits._
    val query = Seq("spark", "join", "stream")
    val (k1, b) = (1.2, 0.75)
    val docs = t.documents.select("doc_id", "text").as[(Long, String)]
      .collect().filter(_._2 != null)
      .map { case (id, tx) => id -> tx.split("\\s+").toSeq }
    val nDocs = docs.length.toLong
    val avgdl = docs.map(_._2.length.toLong).sum.toDouble / nDocs.toDouble
    val df = query.map(w => w -> docs.count(_._2.contains(w)).toLong).toMap
    def r6(x: Double) = math.floor(x * 1e6 + 0.5) / 1e6
    val expect = docs.flatMap { case (id, tk) =>
      val dl = tk.length
      val terms = query.flatMap { w =>
        val tf = tk.count(_ == w)
        if (tf == 0) None
        else Some(r6(math.log(1.0 + (nDocs - df(w) + 0.5) / (df(w) + 0.5)) *
          (tf * (k1 + 1.0)) / (tf + k1 * ((1.0 - b) + b * dl / avgdl))))
      }
      if (terms.isEmpty) None
      else Some(id -> (terms.length.toLong,
        terms.map(s => BigDecimal(s.toString)
          .setScale(6, BigDecimal.RoundingMode.HALF_UP)).sum.toDouble))
    }.toMap
    val top = expect.toSeq.sortBy { case (id, (_, s)) => (-s, id) }.take(15)
    val got = TextOps.bm25TopK(t).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(got.length == math.min(15, expect.size))
    got.zip(top).foreach { case ((gid, gn, gs), (eid, (en, es))) =>
      assert(gid == eid, s"rank order diverges: got doc $gid want $eid")
      assert(gn == en, s"doc $gid matched-term count")
      assert(math.abs(gs - es) < 1e-9, s"doc $gid score $gs vs $es")
    }
    // a doc containing none of the query terms never appears
    val misses = docs.filter(d => !query.exists(d._2.contains)).map(_._1).toSet
    assert(got.map(_._1).toSet.intersect(misses).isEmpty)
  }

  test("bm25TopK plan: top-k is TakeOrderedAndProject, never a global sort") {
    import graft.operators.TextOps
    val plan = TextOps.bm25TopK(t).queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"), plan)
  }

  test("redactIds: digit runs replaced, redaction count audited") {
    val rows = TextOps.redactIds(t).collect()
    assert(rows.length == t.customer.count())
    rows.foreach { r =>
      assert(!r.getString(1).exists(_.isDigit))
      assert(r.getString(1).contains("<ID>"))
      assert(r.getInt(2) == 1) // fixture names carry exactly one digit run
    }
  }

  test("repetitionStats: per-doc fractions match a brute-force recompute") {
    val got = TextOps.repetitionStats(t).collect()
      .map(r => r.getLong(0) ->
        ((r.getLong(2), r.getDouble(3), r.getDouble(4), r.getBoolean(5)))).toMap
    val docs = t.documents.select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    assert(got.size == docs.length, "every document gets repetition stats")
    def fr(x: Double): Double = math.floor(x * 10000 + 0.5) / 10000
    docs.foreach { case (id, text) =>
      val tk = text.split("\\s+").toSeq
      val bg = tk.sliding(2).filter(_.length == 2).map(_.mkString(" ")).toSeq
      val expDup = if (bg.isEmpty) 0.0
        else fr((bg.size - bg.distinct.size).toDouble / bg.size)
      val counts = tk.groupBy(identity).view.mapValues(_.size).toMap
      val expTop = fr(counts.values.max.toDouble / tk.size)
      val (nTok, topFrac, dupFrac, keep) = got(id)
      assert(nTok == tk.size && topFrac == expTop && dupFrac == expDup,
        s"doc $id: got ($nTok, $topFrac, $dupFrac), expected (${tk.size}, $expTop, $expDup)")
      assert(keep == (topFrac <= 0.2 && dupFrac <= 0.3))
    }
    // the signal discriminates on the fixtures: both outcomes occur
    assert(got.values.exists(_._4) , "no doc kept")
  }

  test("binaryFile source: one row per fixture file, content bytes intact") {
    val rows = MultimodalOps.binaryIngestStats(t).collect()
    val dir = new java.io.File("/root/testdata/sf0.001")
    val files = dir.listFiles().filter(_.getName.endsWith(".parquet"))
    assert(rows.length == files.length)
    val sizes = files.map(f => f.getName -> f.length()).toMap
    rows.foreach { r =>
      assert(r.getLong(1) == sizes(r.getString(0)))
      // digest matches the on-disk bytes — payload survived the source.
      // The gate digest is md5 over the UPPERCASE hex rendering (the
      // DuckDB-computable form); recompute it here from the raw file
      val bytes = java.nio.file.Files.readAllBytes(
        new java.io.File(dir, r.getString(0)).toPath)
      val hexUpper = bytes.map("%02X".format(_)).mkString
      val md5hex = java.security.MessageDigest.getInstance("MD5")
        .digest(hexUpper.getBytes("UTF-8")).map("%02x".format(_)).mkString
      assert(r.getString(2) == md5hex)
    }
  }

  test("multimodal decode: real codec recovers dimensions from the pixels") {
    val assets = MultimodalOps.syntheticAssets(t)
    val decoded = MultimodalOps.decodeAssets(spark, assets).toDF()
    assert(decoded.count() == t.documents.count())
    assert(decoded.columns.toSet == Set(
      "asset_id", "format", "n_bytes", "width", "height",
      "mean_r", "mean_g", "mean_b", "features"))
    // decoded width/height must equal the generator's metadata dims —
    // they come out of ImageIO parsing the PNG header, not out of metadata
    decoded.collect().foreach { r =>
      val id = r.getLong(0)
      val (w, h) = MultimodalOps.assetDims(id)
      assert(r.getInt(3) == w && r.getInt(4) == h, s"asset $id dims")
      // luminance histogram is a probability vector over the pixels
      val hist = r.getSeq[Float](8)
      assert(hist.length == 8)
      assert(math.abs(hist.map(_.toDouble).sum - 1.0) < 1e-3)
    }
  }

  test("decodeImage returns exact pixel stats for a hand-built image") {
    // 2x2 PNG: red, green / blue, white — means computable by hand
    val img = new java.awt.image.BufferedImage(2, 2, java.awt.image.BufferedImage.TYPE_INT_RGB)
    img.setRGB(0, 0, 0xff0000); img.setRGB(1, 0, 0x00ff00)
    img.setRGB(0, 1, 0x0000ff); img.setRGB(1, 1, 0xffffff)
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", bos)
    val (w, h, mr, mg, mb, hist) = MultimodalOps.decodeImage(bos.toByteArray)
    assert(w == 2 && h == 2)
    assert(mr == (255 + 0 + 0 + 255) / 4.0)   // 127.5
    assert(mg == (0 + 255 + 0 + 255) / 4.0)   // 127.5
    assert(mb == (0 + 0 + 255 + 255) / 4.0)   // 127.5
    // integer lumas: red 76, green 149, blue 29, white 255 → bins 2,4,0,7
    assert(hist.toSeq == Seq(0.25f, 0f, 0.25f, 0f, 0.25f, 0f, 0f, 0.25f))
  }

  test("decoded channel means match the generator pattern's closed form") {
    val decoded = MultimodalOps.decodeAssets(spark, MultimodalOps.syntheticAssets(t))
      .toDF().filter(col("asset_id") < 5).collect()
    assert(decoded.nonEmpty)
    decoded.foreach { r =>
      val id = r.getLong(0)
      val (w, h) = MultimodalOps.assetDims(id)
      val pix = for (y <- 0 until h; x <- 0 until w) yield MultimodalOps.patternRgb(id, x, y)
      assert(math.abs(r.getDouble(5) - pix.map(_._1).sum.toDouble / pix.size) < 1e-9)
      assert(math.abs(r.getDouble(6) - pix.map(_._2).sum.toDouble / pix.size) < 1e-9)
      assert(math.abs(r.getDouble(7) - pix.map(_._3).sum.toDouble / pix.size) < 1e-9)
    }
  }

  test("png roundtrip is lossless and deterministic (RGB, no alpha)") {
    val bytes1 = MultimodalOps.renderPng(42L, 20, 18)
    val bytes2 = MultimodalOps.renderPng(42L, 20, 18)
    assert(bytes1.toSeq == bytes2.toSeq)
    val (w, h, _, _, _, _) = MultimodalOps.decodeImage(bytes1)
    assert(w == 20 && h == 18)
  }

  test("png files -> binaryFile -> decode: dims and means from real files") {
    val rows = MultimodalOps.pngFileDecodeStats(t).collect()
    assert(rows.length == MultimodalOps.pngFileCount)
    rows.foreach { r =>
      val id = r.getLong(0)
      val (w, h) = MultimodalOps.assetDims(id)
      assert(r.getInt(1) == w && r.getInt(2) == h, s"file asset $id dims")
      // floor-rounded channel means match the closed-form pattern
      val pix = for (y <- 0 until h; x <- 0 until w) yield MultimodalOps.patternRgb(id, x, y)
      def m(f: ((Int, Int, Int)) => Int): Double =
        math.floor(pix.map(f).sum.toDouble / pix.size * 10000 + 0.5) / 10000
      assert(r.getDouble(3) == m(_._1) && r.getDouble(4) == m(_._2) &&
        r.getDouble(5) == m(_._3), s"file asset $id channel means")
    }
    // n_bytes left out of the gate (encoder-dependent) — assert it on the
    // decode output directly: every payload is a real nonempty PNG
    val decoded = MultimodalOps.decodeAssets(spark,
      MultimodalOps.pngFileAssets(spark)).toDF().select("n_bytes").collect()
    assert(decoded.nonEmpty && decoded.forall(_.getInt(0) > 0))
  }

  test("resize: nearest-neighbor sums over real decoded pixels match the closed form") {
    val rows = MultimodalOps.resizedAssetStats(t).collect()
    assert(rows.length == t.documents.count())
    rows.take(25).foreach { r =>
      val id = r.getLong(0)
      val (w, h) = MultimodalOps.assetDims(id)
      assert(r.getInt(1) == w && r.getInt(2) == h, s"asset $id source dims")
      val pix = for (y <- 0 until 8; x <- 0 until 8)
        yield MultimodalOps.patternRgb(id, x * w / 8, y * h / 8)
      assert(r.getLong(3) == pix.map(_._1.toLong).sum &&
        r.getLong(4) == pix.map(_._2.toLong).sum &&
        r.getLong(5) == pix.map(_._3.toLong).sum,
        s"asset $id resized channel sums")
    }
  }

  test("resize: upscale (target larger than source) repeats pixels, stays exact") {
    // 3x2 source to an 8x8 target — the NN index floor(x'*w/8) repeats
    // source pixels; the kernel must not read out of bounds or interpolate
    import spark.implicits._
    val payload = MultimodalOps.renderPng(7L, 3, 2)
    val one = Seq(MultimodalOps.Asset(7L, "png/x", 3, 2, payload)).toDS()
    val r = MultimodalOps.resizeAssets(spark, one).head()
    val pix = for (y <- 0 until 8; x <- 0 until 8)
      yield MultimodalOps.patternRgb(7L, x * 3 / 8, y * 2 / 8)
    assert(r.width == 3 && r.height == 2)
    assert(r.sum_r == pix.map(_._1.toLong).sum && r.sum_b == pix.map(_._3.toLong).sum)
  }

  test("frame sampling: stride 2 keeps ceil(nf/2) frames and their exact sums") {
    val rows = MultimodalOps.frameSampleStats(t).collect()
    assert(rows.length == t.documents.count())
    rows.take(25).foreach { r =>
      val id = r.getLong(0)
      val nf = MultimodalOps.videoFrameCount(id)
      assert(r.getLong(1) == nf, s"video $id frame count")
      assert(r.getLong(2) == (nf + 1) / 2, s"video $id sampled count")
      val sampled = (0 until nf).filter(_ % 2 == 0)
      val pix = for {
        f <- sampled
        y <- 0 until MultimodalOps.frameH
        x <- 0 until MultimodalOps.frameW
      } yield MultimodalOps.patternRgb(id * 100 + f, x, y)
      assert(r.getLong(3) == pix.map(_._1.toLong).sum &&
        r.getLong(4) == pix.map(_._2.toLong).sum &&
        r.getLong(5) == pix.map(_._3.toLong).sum,
        s"video $id sampled-frame sums")
    }
  }

  test("frame sampling: stride 1 decodes every frame; larger strides nest") {
    import spark.implicits._
    val vids = MultimodalOps.syntheticVideos(t).limit(10).cache()
    val all = MultimodalOps.sampleFrames(spark, vids, 1).collect()
      .map(s => s.asset_id -> s).toMap
    val every3 = MultimodalOps.sampleFrames(spark, vids, 3).collect()
    all.values.foreach(s => assert(s.n_sampled == s.n_frames,
      s"stride 1 must keep every frame of ${s.asset_id}"))
    every3.foreach { s =>
      assert(s.n_sampled == (s.n_frames + 2) / 3, s"stride-3 count for ${s.asset_id}")
      // a sampled subset's sums are bounded by the full pass's
      assert(s.sum_r <= all(s.asset_id).sum_r && s.sum_b <= all(s.asset_id).sum_b)
    }
    vids.unpersist()
  }

  test("frame dedup: digests collapse exactly the shared closed-form patterns, no decode in the path") {
    val digests = MultimodalOps.frameDigests(
      spark, MultimodalOps.syntheticVideosShared(t)).collect()
    // two frames share a digest IFF they share the pattern key
    val byKey = digests.groupBy(d => (d.asset_id % 7) * 100 + d.f)
    byKey.values.foreach { frames =>
      assert(frames.map(_.digest).distinct.length == 1,
        "same pattern must encode to byte-identical frames")
    }
    assert(byKey.keySet.size == digests.map(_.digest).distinct.length,
      "distinct patterns must not collide")
    // histogram conserves the frame population
    val hist = MultimodalOps.frameDedupStats(t).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(hist.map(_._3).sum == digests.length.toLong)
    assert(hist.exists(_._1 > 1), "the mod-7 reuse must produce real duplicates")
    hist.foreach { case (dup, pats, frames) => assert(frames == dup * pats) }
  }

  test("recommender returns k results excluding the query doc") {
    val got = Recommender.similarDocs(t, 0L, 5).collect()
    assert(got.length == 5)
    assert(!got.map(_.getLong(0)).contains(0L))
    val scores = got.map(_.getDouble(3)).toSeq
    assert(scores == scores.sorted.reverse)
  }

  test("recommender ranks an exact duplicate first if one exists") {
    // fixtures contain exact text duplicates (dedup_exact_stats > 0);
    // a duplicate of doc 0 must score 1.0 if present
    val dupOf0 = t.documents.as("a").join(t.documents.as("b"),
        col("a.text") === col("b.text") && col("a.doc_id") =!= col("b.doc_id"))
      .filter(col("a.doc_id") === 0).select(col("b.doc_id")).collect().map(_.getLong(0))
    if (dupOf0.nonEmpty) {
      val top = Recommender.similarDocs(t, 0L, 1).head()
      assert(math.abs(top.getDouble(3) - 1.0) < 1e-6)
    }
  }

  test("all nine reference regressor configs fit and evaluate") {
    val before = graft.core.Ledger.snapshot()
    val t0 = System.nanoTime()
    val rows = PricePipeline.fullMetrics(t).collect()
    val wallMs = (System.nanoTime() - t0) / 1000000
    val ledger = graft.core.Ledger.delta(before)
    // the shared frame's 2 partitions are below the session's 4 cores
    assert(ledger.get("ml.fm_regrain").contains(1L), s"FM re-grain not counted: $ledger")
    val fitMs = ledger.collect { case (k, v) if k.startsWith("ml.fit_ms.") =>
      k.stripPrefix("ml.fit_ms.") -> v }
    assert(fitMs.keySet == PricePipeline.regressors.map(_._1).toSet,
      s"one ml.fit_ms key per model: $ledger")
    assert(fitMs.values.forall(_ <= wallMs),
      s"a fit's wall within the table's $wallMs ms: $fitMs")
    assert(rows.length == 9)
    assert(rows.map(_.getString(0)).toSet == PricePipeline.regressors.map(_._1).toSet)
    rows.foreach { r =>
      assert(!r.getDouble(3).isNaN && r.getDouble(3) >= 0) // mse
      assert(r.getDouble(1) == r.getDouble(2))             // r2adj == r2 quirk
    }
  }

  test("mllib MinHashLSH variant finds the exact-duplicate pairs too") {
    import graft.operators.DedupOps
    val custom = DedupOps.minhashDupPairs(t, 0.95)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val mllib = DedupOps.minhashDupPairsMllib(t, 0.95)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // exact duplicates (jaccard 1.0) always collide in every hash table of
    // BOTH schemes — the two variants must agree on them
    val exact = DedupOps.ngramJaccardPairs(t, 1.0)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(exact.subsetOf(custom))
    assert(exact.subsetOf(mllib))
  }

  test("price pipeline: metrics are finite, rmse^2 ≈ mse") {
    val rows = PricePipeline.fastMetrics(t).collect()
    assert(rows.length == 3)
    rows.foreach { r =>
      val Seq(r2, r2adj, mse, rmse, mae) = (1 to 5).map(r.getDouble)
      assert(!r2.isNaN && r2 <= 1.0)
      assert(r2 == r2adj) // documented reference bug: adjusted R² reports R²
      assert(math.abs(rmse * rmse - mse) / mse < 0.01)
      assert(mae >= 0 && rmse >= mae)
    }
  }
}
