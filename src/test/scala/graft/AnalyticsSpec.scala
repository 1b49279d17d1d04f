package graft

import org.apache.spark.sql.functions._

import graft.analytics.{Dedup, Multimodal, Similarity, TextOps}

class DedupSpec extends SparkSuite {
  import spark.implicits._

  private val docs = Seq(
    (1L, "the quick brown fox jumps over the lazy dog"),
    (2L, "the quick brown fox jumps over the lazy cat"), // near-dup of 1
    (3L, "completely different content with zero overlap nothing shared"),
    (4L, "the quick brown fox jumps over the lazy dog")) // exact dup of 1
    .toDF("doc_id", "text")

  test("exact dedup groups identical texts") {
    val got = Dedup.exact(docs, col("doc_id"), col("text")).collect()
    assert(got.length == 3)
    val dupGroup = got.find(_.getAs[Long]("n_copies") == 2).get
    assert(dupGroup.getAs[Long]("keep_id") == 1L)
  }

  test("minhash signatures: identical docs identical, near-dups share most") {
    val sig = Dedup.minhashSignatures(docs, "doc_id", col("text"), k = 4, numHashes = 8)
      .collect().groupBy(_.getAs[Long]("doc_id"))
      .view.mapValues(_.sortBy(_.getAs[Int]("seed")).map(_.getAs[String]("minhash")).toSeq).toMap
    assert(sig(1L) == sig(4L)) // exact dup -> identical signature
    val shared12 = sig(1L).zip(sig(2L)).count { case (a, b) => a == b }
    val shared13 = sig(1L).zip(sig(3L)).count { case (a, b) => a == b }
    assert(shared12 > shared13) // near-dup shares more minhashes than unrelated
  }

  test("LSH buckets put exact dups together") {
    val bandKeys = Dedup.lshBandKeys(docs, "doc_id", col("text"), k = 4,
      numHashes = 8, rowsPerBand = 4)
    val buckets = Dedup.lshBuckets(bandKeys, "doc_id")
    assert(buckets.filter(col("n_docs") >= 2).count() >= 1)
    val pairs = Dedup.lshCandidatePairs(bandKeys, "doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 4L)))
    // skew cap: buckets above the population cap generate no pairs
    assert(Dedup.lshCandidatePairs(bandKeys, "doc_id", maxBucket = 1).count() == 0)
  }

  test("simhash: exact dups equal, near-dups hamming-close") {
    val sh = Dedup.simhash(docs, "doc_id", col("text"), bits = 16)
      .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("simhash")).toMap
    assert(sh(1L) == sh(4L))
    def hamming(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    assert(hamming(sh(1L), sh(2L)) <= hamming(sh(1L), sh(3L)))
  }

  test("simhash banded pairs equal brute-force pairs at the distance bound") {
    val sigs = Dedup.simhashNative(docs, "doc_id", col("text"), bits = 16)
    val banded = Dedup.simhashCandidatePairs(sigs, "doc_id", bits = 16, maxDist = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val all = sigs.collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("simhash"))
    val brute = (for {
      (a, sa) <- all; (b, sb) <- all if a < b
      h = java.lang.Long.bitCount(sa ^ sb) if h <= 2
    } yield (a, b, h.toLong)).toSet
    assert(banded == brute) // pigeonhole banding misses nothing
  }

  test("connected components: chains merge, islands stay apart") {
    // chain 1-2-3-4 (diameter 3), pair (10,11), singleton edge (20,21)
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L), (20L, 21L))
      .toDF("doc_a", "doc_b")
    val comp = Dedup.connectedComponents(pairs).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("component")).toMap
    assert(Seq(1L, 2L, 3L, 4L).forall(comp(_) == 1L))
    assert(comp(10L) == 10L && comp(11L) == 10L)
    assert(comp(20L) == 20L && comp(21L) == 20L)
    val clusters = Dedup.dupClusters(pairs).collect()
      .map(r => r.getAs[Long]("component") ->
        (r.getAs[Long]("n_docs"), r.getAs[Long]("keep_id"))).toMap
    assert(clusters(1L) == ((4L, 1L)) && clusters(10L) == ((2L, 10L)))
  }

  test("connected components: deep chain converges via adaptive pointer jumping " +
    "inside the default round bound") {
    // A 60-node path has diameter 59: plain min-propagation needs a
    // driver round per hop and would blow the default maxIter=20. The
    // adaptive regime (plain rounds, then propagate+jump) must converge
    // geometrically within the same default bound. Forced onto the
    // DISTRIBUTED path (threshold 0) — a graph this small would
    // otherwise take the driver union-find and leave the loop untested.
    val pairs = (1L until 60L).map(i => (i, i + 1)).toDF("doc_a", "doc_b")
    val comp = forceDistributed(pairs).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("component")).toMap
    assert(comp.size == 60)
    assert((1L to 60L).forall(comp(_) == 1L), "one component rooted at the min id")
  }

  test("CC round bound scales with edge count — the r17 sf100 cliff") {
    // sf100's candidate graph (3.32M directed edges, largest component
    // 8.0k nodes / diameter >=40) needs 22 HashMin+jump rounds, one more
    // than log2(n); the old constant cap of 20 failed loud there. The
    // bound must cover ~log2(n) with margin while keeping the caller
    // floor authoritative on small graphs.
    assert(Dedup.ccRoundBound(20, 3315300L) >= 22)
    assert(Dedup.ccRoundBound(20, 3315300L) <= 80, "bound stays a bound")
    assert(Dedup.ccRoundBound(40, 10L) == 40, "explicit floor wins when larger")
    assert(Dedup.ccRoundBound(20, 1L) == 20 + 0 || Dedup.ccRoundBound(20, 1L) >= 20)
    // 10^10-node scale: ~80 rounds, not unbounded
    assert(Dedup.ccRoundBound(20, 20000000000L) <= 100)
  }

  /** Labels from the distributed loop: a driver row cap of 0 admits no pair. */
  private def forceDistributed(pairs: org.apache.spark.sql.DataFrame) =
    Dedup.components(pairs, driverRows = 0).fold(_.labels, identity)

  test("hybrid CC: driver union-find and distributed HashMin label identically") {
    // branchy graph with multiple components, merges arriving in
    // non-min-first order, and id gaps — both strategies must emit the
    // same (doc_id, component) set
    val pairs = Seq(
      (7L, 3L), (3L, 9L), (9L, 1L), (50L, 40L), (40L, 60L), (41L, 40L),
      (100L, 101L), (5L, 7L), (2L, 9L)).toDF("doc_a", "doc_b")
    val viaDriver = Dedup.connectedComponents(pairs).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val viaLoop = forceDistributed(pairs).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(viaDriver == viaLoop, s"strategies disagree: ${viaDriver.diff(viaLoop)} vs ${viaLoop.diff(viaDriver)}")
    assert(viaDriver.filter(_._1 <= 9L).forall(_._2 == 1L))
  }

  test("connected components with a checkpoint dir: correct labels, zero surviving files") {
    val ckptPath = java.nio.file.Files.createTempDirectory("graft-ckpt")
    spark.sparkContext.setCheckpointDir(ckptPath.toString)
    try {
      val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("doc_a", "doc_b")
      // the loop's checkpoint discipline is what's under test — force past
      // the driver shortcut
      val comp = forceDistributed(pairs)
      val got = comp.collect()
        .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("component")).toMap
      assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 10L -> 10L, 11L -> 10L))
      // Checkpoints.scoped contract: the loop's reliable checkpoint files
      // are deleted before connectedComponents returns — the result is
      // served from the pinned replicated cache, and repeated invocations
      // leave zero residual checkpoint storage
      val walk = java.nio.file.Files.walk(ckptPath)
      val residue =
        try walk.filter(p => java.nio.file.Files.isRegularFile(p)).findFirst()
        finally walk.close()
      assert(!residue.isPresent,
        s"checkpoint files survived the scoped CC call: $residue")
      assert(comp.count() == 5)
    } finally {
      spark.sparkContext.setCheckpointDir(null)
      org.apache.commons.io.FileUtils.deleteQuietly(ckptPath.toFile)
    }
  }

  test("ngram jaccard: dup pair ~1.0, bounded in (0,1]") {
    val pairs = Seq((1L, 4L), (1L, 2L)).toDF("doc_a", "doc_b")
    val j = Dedup.ngramJaccard(pairs, docs, "doc_id", col("text"), k = 4)
      .collect().map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b")) -> r.getAs[Double]("jaccard")).toMap
    assert(j((1L, 4L)) == 1.0)
    assert(j((1L, 2L)) > 0.5 && j((1L, 2L)) < 1.0)
  }

  test("fused bucket-local verify equals ngramJaccard over lshCandidatePairs (incl. cap)") {
    // the r15 sf100 restructure must be a pure plan change: identical
    // pair set and per-pair statistics for any cap, including cap-driven
    // pair suppression
    val bandKeys = Dedup.lshBandKeys(docs, "doc_id", col("text"), k = 4,
      numHashes = 8, rowsPerBand = 4)
    for (cap <- Seq(1000, 2)) {
      val expected = Dedup.ngramJaccard(
          Dedup.lshCandidatePairs(bandKeys, "doc_id", maxBucket = cap),
          docs, "doc_id", col("text"), k = 4)
        .collect().map(r => (r.getLong(0), r.getLong(1),
          r.getAs[Long]("inter"), r.getAs[Long]("n_a"), r.getAs[Long]("n_b"))).toSet
      val fused = Dedup.lshVerifiedPairs(bandKeys, docs, "doc_id",
          col("text"), k = 4, maxBucket = cap)
        .collect().map(r => (r.getLong(0), r.getLong(1),
          r.getAs[Long]("inter"), r.getAs[Long]("n_a"), r.getAs[Long]("n_b"))).toSet
      assert(fused == expected, s"cap=$cap")
    }
  }
}

class SimilaritySpec extends SparkSuite {
  import spark.implicits._

  private val vecs = Seq(
    (0L, Array(1.0f, 0.0f, 0.0f)),
    (1L, Array(0.9f, 0.1f, 0.0f)), // close to query
    (2L, Array(0.0f, 1.0f, 0.0f)), // orthogonal
    (3L, Array(-1.0f, 0.0f, 0.0f))) // opposite
    .toDF("vec_id", "embedding")

  test("brute-force top-k ranks by dot product") {
    val qv = vecs.filter(col("vec_id") === 0)
      .select(Similarity.quantize(col("embedding")).as("qv"))
    val got = Similarity.bruteForceTopK(vecs.filter(col("vec_id") =!= 0),
      col("vec_id"), col("embedding"), qv, k = 3)
      .collect().map(_.getAs[Long]("vec_id")).toSeq
    assert(got == Seq(1L, 2L, 3L))
  }

  test("lsh buckets separate opposite vectors, group aligned ones") {
    val b = Similarity.lshBucket(vecs, "vec_id", col("embedding"), dims = 3, numPlanes = 8)
      .collect().map(r => r.getAs[Long]("vec_id") -> r.getAs[Long]("bucket")).toMap
    assert(b(0L) == b(1L)) // near-identical directions share a bucket
    assert(b(0L) != b(3L)) // opposite direction differs
  }

  test("ANN probe searches only the query's bucket") {
    val buckets = Similarity.lshBucket(vecs, "vec_id", col("embedding"), dims = 3, numPlanes = 8)
      .collect().map(r => r.getAs[Long]("vec_id") -> r.getAs[Long]("bucket")).toMap
    val qv = vecs.filter(col("vec_id") === 0)
      .select(Similarity.quantize(col("embedding")).as("qv"))
    val got = Similarity.annTopK(vecs, "vec_id", col("embedding"), dims = 3,
        numPlanes = 8, qv, queryBucket = buckets(0L), k = 5)
      .collect().map(_.getAs[Long]("vec_id")).toSet
    assert(got.contains(1L)) // shares the query's bucket
    assert(!got.contains(3L)) // opposite vector is in another bucket
  }

  test("banded buckets: dup vectors share every band, opposite share none") {
    val b = Similarity.lshBandBuckets(vecs, "vec_id", col("embedding"),
        dims = 3, planesPerBand = 4, numBands = 2)
      .collect().map(r => (r.getAs[Long]("vec_id"), r.getAs[Int]("band")) ->
        r.getAs[Long]("band_key")).toMap
    assert(b((0L, 0)) == b((1L, 0)) && b((0L, 1)) == b((1L, 1)))
    assert(b((0L, 0)) != b((3L, 0)) && b((0L, 1)) != b((3L, 1)))
  }

  test("neardup pair expansion stays bounded under a 90%-hot-bucket input") {
    // 90 identical vectors (one hot bucket per band) + 10 spread ones;
    // with maxBucket=10 the hot cluster must yield ZERO pairs — it is a
    // cluster, not O(n²) pairs — so the pair count is bounded by the
    // small buckets alone.
    val hot = (0L until 90L).map(i => (i, Array(1.0f, 0.5f, 0.25f)))
    val rest = (90L until 100L).map(i =>
      (i, Array(-1.0f + 0.01f * i, 1.0f - 0.02f * i, -0.5f + 0.01f * i)))
    val df = (hot ++ rest).toDF("vec_id", "embedding")
    val buckets = Similarity.lshBandBuckets(df, "vec_id", col("embedding"),
      dims = 3, planesPerBand = 8, numBands = 2)
    val pairs = Similarity.neardupCandidatePairs(buckets, "vec_id", maxBucket = 10)
      .collect().map(r => (r.getAs[Long]("vec_a"), r.getAs[Long]("vec_b")))
    val hotPairs = pairs.count { case (a, b) => a < 90L && b < 90L }
    assert(hotPairs == 0, s"hot-bucket pairs leaked: $hotPairs")
    // 10 small-bucket vectors can form at most C(10,2)=45 pairs
    assert(pairs.length <= 45, s"pair expansion unbounded: ${pairs.length}")
    // uncapped control: the same input explodes to >= C(90,2) pairs
    val uncapped = Similarity.neardupCandidatePairs(buckets, "vec_id",
      maxBucket = Int.MaxValue).count()
    assert(uncapped >= 90L * 89L / 2)
  }

  test("exact cosine agrees with ranking") {
    val withQ = vecs.crossJoin(
      vecs.filter(col("vec_id") === 0).select(col("embedding").as("q")))
    val cos = withQ.filter(col("vec_id") =!= 0)
      .select(col("vec_id"), Similarity.cosine(col("embedding"), col("q")).as("c"))
      .collect().map(r => r.getAs[Long]("vec_id") -> r.getAs[Double]("c")).toMap
    assert(math.abs(cos(3L) + 1.0) < 1e-6)
    assert(cos(1L) > cos(2L) && cos(2L) > cos(3L))
  }
}

class TextOpsSpec extends SparkSuite {
  import spark.implicits._

  test("token counts and occurrences") {
    val df = Seq(Tuple1("the cat and the hat")).toDF("t")
    assert(df.select(TextOps.tokenCount(col("t"))).head().getInt(0) == 5)
    assert(df.select(TextOps.occurrences(concat(lit(" "), col("t"), lit(" ")), " the "))
      .head().getInt(0) == 2)
  }

  test("regex tokenizer splits words, numbers, punctuation") {
    val toks = Seq(Tuple1("ab12, cd!")).toDF("t")
      .select(TextOps.tokensRegex(col("t"))).head().getSeq[String](0)
    assert(toks == Seq("ab", "12", ",", "cd", "!"))
  }

  test("fingerprint is whitespace/case insensitive") {
    val df = Seq(("Hello  World", "hello world")).toDF("a", "b")
      .select(TextOps.fingerprint(col("a")).as("fa"), TextOps.fingerprint(col("b")).as("fb"))
    val r = df.head()
    assert(r.getString(0) == r.getString(1))
  }

  test("PII scrub redacts emails, IPv4s, digit runs — in that order") {
    val df = Seq(Tuple1(
      "mail a.b+c@sub.example.org or 10.0.255.7 tel 12345678 ok 123 end"))
      .toDF("t")
    val scrubbed = df.select(TextOps.scrubPii(col("t"))).head().getString(0)
    assert(scrubbed == "mail <EMAIL> or <IP> tel <NUM> ok 123 end")
    val counts = df.select(
      TextOps.piiCounts(col("t")).map { case (n, c) => c.as(n) }: _*).head()
    assert(counts.getAs[Int]("n_emails") == 1)
    assert(counts.getAs[Int]("n_ips") == 1)
    assert(counts.getAs[Int]("n_nums") == 1)
    // idempotent on clean text
    val clean = df.select(TextOps.scrubPii(TextOps.scrubPii(col("t")))).head().getString(0)
    assert(clean == scrubbed)
  }

  test("langid prefers the language with most marker hits") {
    val df = Seq(
      ("the cat and a dog", "en"),
      ("le chat et la chienne", "fr"),
      ("der hund und die katze", "de"))
      .toDF("t", "expect")
      .select(TextOps.predictLang(col("t")).as("got"), col("expect"))
    assert(df.collect().forall(r => r.getString(0) == r.getString(1)))
  }
}

class MultimodalSpec extends SparkSuite {
  import spark.implicits._

  test("media column wrap carries typed metadata") {
    val df = Multimodal.asMediaColumn(
      Seq((1L, "fake image bytes")).toDF("id", "payload"), "payload", "image")
    val r = df.select(col("media"), col("media_meta.media_type"),
      col("media_meta.n_bytes"), col("media_meta.sha")).head()
    assert(new String(r.getAs[Array[Byte]](0)) == "fake image bytes")
    assert(r.getString(1) == "image")
    assert(r.getLong(2) == 16L)
    assert(r.getString(3).length == 64)
  }

  test("real decode: synthetic PNGs round-trip exact dims/channels/format") {
    val df = (1L to 50L).map(id => (id, Multimodal.syntheticImage(id)))
      .toDF("id", "media").repartition(4)
    val feats = Multimodal.extractFeatures(df)
    assert(feats.rdd.getNumPartitions == 4) // narrow: no shuffle introduced
    assert(feats.columns.toSet == Set("id", "width", "height", "channels", "format"))
    feats.collect().foreach { r =>
      val id = r.getAs[Long]("id")
      assert(r.getAs[Int]("width") == (id % 16 + 1).toInt)
      assert(r.getAs[Int]("height") == (id % 12 + 1).toInt)
      assert(r.getAs[Int]("channels") == (if (id % 3 == 0) 4 else 3))
      assert(r.getAs[String]("format") == "png")
    }
  }

  test("jpeg header decodes; undecodable bytes yield null features") {
    val img = new java.awt.image.BufferedImage(9, 7,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    val out = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "jpg", out)
    val df = Seq((1L, out.toByteArray), (2L, "not an image".getBytes))
      .toDF("id", "media")
    val feats = Multimodal.extractFeatures(df).collect()
      .map(r => r.getAs[Long]("id") -> r).toMap
    assert(feats(1L).getAs[Int]("width") == 9)
    assert(feats(1L).getAs[Int]("height") == 7)
    assert(feats(1L).getAs[Int]("channels") == 3)
    assert(feats(1L).getAs[String]("format") == "jpeg")
    assert(feats(2L).isNullAt(feats(2L).fieldIndex("width")))
    assert(feats(2L).isNullAt(feats(2L).fieldIndex("format")))
  }

  test("real resize re-encodes to target dimensions, preserving alpha") {
    val df = Seq((1L, Multimodal.syntheticImage(6L)), // id%3=0 -> RGBA
                 (2L, Multimodal.syntheticImage(7L))) // RGB
      .toDF("id", "media")
    val resized = Multimodal.resize(df, 8, 5)
    assert(resized.schema == df.schema) // shape-preserving
    val byId = resized.collect().map(r => r.getAs[Long]("id") -> r).toMap
    val a = Multimodal.decodeImage(byId(1L).getAs[Array[Byte]]("media")).get
    assert(a.width == 8 && a.height == 5 && a.channels == 4)
    val b = Multimodal.decodeImage(byId(2L).getAs[Array[Byte]]("media")).get
    assert(b.width == 8 && b.height == 5 && b.channels == 3)
  }

  test("real audio decode: synthetic WAVs round-trip exact parameters") {
    val df = (1L to 40L).map(id => (id, Multimodal.syntheticWav(id)))
      .toDF("id", "media").repartition(4)
    val feats = Multimodal.extractAudioFeatures(df)
    assert(feats.columns.toSet ==
      Set("id", "sample_rate", "channels", "bits_per_sample", "frames"))
    feats.collect().foreach { r =>
      val id = r.getAs[Long]("id")
      assert(r.getAs[Int]("sample_rate") == 8000 + (id % 4).toInt * 4000)
      assert(r.getAs[Int]("channels") == 1 + (id % 2).toInt)
      assert(r.getAs[Int]("bits_per_sample") == 16)
      assert(r.getAs[Long]("frames") == 100 + (id % 50))
    }
    // undecodable bytes yield nulls, not failures
    val bad = Multimodal.extractAudioFeatures(
      Seq((9L, "not audio".getBytes)).toDF("id", "media")).head()
    assert(bad.isNullAt(bad.fieldIndex("sample_rate")))
  }

  test("frame-sample: real GIF demux, stride sampling, PNG re-encode") {
    val df = (1L to 6L).map(id => (id, Multimodal.syntheticGif(id)))
      .toDF("id", "media").repartition(3)
    val frames = Multimodal.frameSample(df, 4)
    val byId = frames.select(col("id"), col("frame_idx"), col("n_frames"), col("media"))
      .collect().groupBy(_.getAs[Long]("id"))
    (1L to 6L).foreach { id =>
      val total = 2 + (id % 3).toInt // syntheticGif contract
      val rows = byId(id).sortBy(_.getAs[Int]("frame_idx"))
      assert(rows.length == math.min(4, total))
      assert(rows.forall(_.getAs[Int]("n_frames") == total))
      assert(rows.map(_.getAs[Int]("frame_idx")).toSeq == (0 until rows.length))
      rows.foreach { r => // each sampled frame is a decodable PNG at source dims
        val info = Multimodal.decodeImage(r.getAs[Array[Byte]]("media")).get
        assert(info.format == "png")
        assert(info.width == 8 + (id % 5).toInt && info.height == 6 + (id % 4).toInt)
      }
    }
    // frames feed the image ops unchanged: real dims, no nulls
    val feats = Multimodal.extractFeatures(frames)
    assert(feats.filter(col("width").isNull).count() == 0)
    // non-container bytes demux to zero rows, not failures
    assert(Multimodal.frameSample(
      Seq((9L, "not a container".getBytes)).toDF("id", "media"), 4).count() == 0)
  }
}
