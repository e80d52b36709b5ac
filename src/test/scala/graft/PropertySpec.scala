package graft

import org.scalacheck.Gen
import org.apache.spark.sql.functions._
import graft.io.Netstring

/** Property tests: scalacheck generators drive the pure codecs and the
  * Column-expression/reference-model agreements. Spark-touching properties
  * batch ALL generated cases into one DataFrame (one job per property, not
  * one per case); pure properties loop plainly (no scalatestplus bridge in
  * the offline cache).
  */
class PropertySpec extends SparkTestBase {

  private val anyStr: Gen[String] = Gen.listOf(Gen.oneOf(
    Gen.alphaNumChar, Gen.oneOf('\n', ' ', ' ', 'ß', '中', '"', ',')))
    .map(_.mkString)

  private def samples[A](g: Gen[A], n: Int): Seq[A] = {
    val params = Gen.Parameters.default
    (0 until n).flatMap(i => g(params, org.scalacheck.rng.Seed(i.toLong)))
  }

  test("netstring encode/decode is the identity for any (k,v) pairs") {
    samples(Gen.listOfN(8, Gen.zip(anyStr, anyStr)), 50).foreach { pairs =>
      val in = new java.io.ByteArrayInputStream(Netstring.encode(pairs))
      assert(Netstring.decodeStream(in).toList == pairs, s"pairs=$pairs")
    }
  }

  test("DiscoChunk encode/decode is the identity for any binary (k,v) pairs") {
    val anyBytes: Gen[Array[Byte]] =
      Gen.listOf(Gen.chooseNum(Byte.MinValue, Byte.MaxValue)).map(_.toArray)
    samples(Gen.zip(
        Gen.listOfN(12, Gen.zip(anyBytes, anyBytes)),
        Gen.chooseNum(64, 4096), Gen.oneOf(0, 2, 9)), 40)
      .foreach { case (pairs, hunkSize, level) =>
        val chunks = graft.io.DiscoChunk.encodeChunks(pairs.iterator,
          chunkSize = 2048, minHunkSize = hunkSize, compressionLevel = level)
        val got = chunks.flatMap(c => graft.io.DiscoChunk.decodeStream(
          new java.io.ByteArrayInputStream(c))).toList
        assert(got.map(p => (p._1.toSeq, p._2.toSeq)) ==
          pairs.map(p => (p._1.toSeq, p._2.toSeq)),
          s"hunk=$hunkSize level=$level n=${pairs.size}")
      }
  }

  test("editDistancePairs equals the brute-force join on generated strings (incl. shorts)") {
    import org.apache.spark.sql.functions._
    // small alphabet → dense near-matches; lengths 1..12 exercise the
    // short-string fallback (< q·d+1 grams) alongside the prefix path
    val strGen = for {
      n <- Gen.chooseNum(1, 12)
      cs <- Gen.listOfN(n, Gen.oneOf('a', 'b', 'c'))
    } yield cs.mkString
    samples(Gen.listOfN(60, strGen), 6).zipWithIndex.foreach { case (strs, i) =>
      import spark.implicits._
      val df = strs.toDF("s0")
      val got = graft.ops.FuzzyJoin.editDistancePairs(df, "s0", d = 2)
        .as[(String, String, Int)].collect().toSet
      val uniq = df.select(col("s0")).distinct().as("x")
      val want = uniq.join(uniq.select(col("s0").as("s1")),
          col("s0") < col("s1") && levenshtein(col("s0"), col("s1")) <= 2)
        .select(col("s0"), col("s1"), levenshtein(col("s0"), col("s1")))
        .as[(String, String, Int)].collect().toSet
      assert(got == want, s"case $i: missing=${want -- got} extra=${got -- want}")
    }
  }

  test("editDistanceLookup equals the brute-force cross join on generated strings") {
    import org.apache.spark.sql.functions._
    val strGen = for {
      n <- Gen.chooseNum(1, 10)
      cs <- Gen.listOfN(n, Gen.oneOf('a', 'b', 'c'))
    } yield cs.mkString
    samples(Gen.zip(Gen.listOfN(40, strGen), Gen.listOfN(25, strGen)), 5)
      .zipWithIndex.foreach { case ((ls, rs), i) =>
        import spark.implicits._
        val ldf = ls.toDF("dirty")
        val rdf = rs.toDF("canon")
        val got = graft.ops.FuzzyJoin.editDistanceLookup(
            ldf, "dirty", rdf, "canon", d = 2)
          .as[(String, String, Int)].collect().toSet
        val want = ldf.select(col("dirty")).distinct()
          .join(rdf.select(col("canon")).distinct(),
            levenshtein(col("dirty"), col("canon")) <= 2)
          .select(col("dirty"), col("canon"),
            levenshtein(col("dirty"), col("canon")))
          .as[(String, String, Int)].collect().toSet
        assert(got == want, s"case $i: missing=${want -- got} extra=${got -- want}")
      }
  }

  test("heavyHitters on an all-distinct column is empty; on a constant column is that value") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val distinctCol = spark.range(0, 5000).select(col("id").cast("string").as("v"))
    assert(graft.ops.ScaleOps.heavyHitters(distinctCol, "v", k = 8).count() == 0)
    val constCol = spark.range(0, 5000).select(lit("x").as("v"))
    val got = graft.ops.ScaleOps.heavyHitters(constCol, "v", k = 8)
      .as[(String, Long)].collect().toSeq
    assert(got == Seq(("x", 5000L)))
  }

  test("fimSplit: pieces reconstruct the original exactly; non-FIM rows pass through") {
    import spark.implicits._
    val docs = graft.core.Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("text"))
    val out = graft.ops.TextOps.fimSplit(docs, "doc_id", "text", rate = 0.5)
      .join(docs.withColumnRenamed("doc_id", "id"), "id")
      .as[(Long, Boolean, Long, Long, Long, String, String)].collect()
    assert(out.nonEmpty)
    val (fimmed, plain) = out.partition(_._2)
    // rate ≈ 0.5 on the fixture (hash-drawn coin)
    assert(fimmed.nonEmpty && plain.nonEmpty)
    plain.foreach { case (_, _, p, m, sfx, t, orig) =>
      assert(t == orig && p == orig.length && m == 0 && sfx == 0)
    }
    fimmed.foreach { case (id, _, p, m, sfx, t, orig) =>
      assert(p + m + sfx == orig.length, s"doc $id lengths")
      // parse the PSM serialization back into pieces and reassemble
      assert(t.startsWith("<|fim_pre|>"), s"doc $id missing pre sentinel")
      val body = t.stripPrefix("<|fim_pre|>")
      val Array(pre, rest) = body.split("\\Q<|fim_suf|>\\E", 2)
      val Array(suf, mid) = rest.split("\\Q<|fim_mid|>\\E", 2)
      assert(pre.length == p && mid.length == m && suf.length == sfx,
        s"doc $id piece lengths")
      assert(pre + mid + suf == orig, s"doc $id does not reconstruct")
    }
    // determinism: same salt, bit-identical re-run
    val again = graft.ops.TextOps.fimSplit(docs, "doc_id", "text", rate = 0.5)
      .orderBy("id").collect().toSeq
    val first = graft.ops.TextOps.fimSplit(docs, "doc_id", "text", rate = 0.5)
      .orderBy("id").collect().toSeq
    assert(first == again)
  }

  test("langIdNgram: planted character distributions classify every held-out doc; tokenless docs absent") {
    import spark.implicits._
    // two synthetic "languages" over disjoint alphabets — the rank
    // profiles must separate them perfectly on the held-out split
    def word(r: scala.util.Random, letters: String) =
      (1 to 3 + r.nextInt(5)).map(_ => letters(r.nextInt(letters.length))).mkString
    val docs = (0L until 60L).map { id =>
      val r = new scala.util.Random(id)
      val letters = if (id % 2 == 0) "abcdef" else "uvwxyz"
      (id, (1 to 40).map(_ => word(r, letters)).mkString(" "),
        if (id % 2 == 0) "aa" else "zz")
    } :+ ((99L, "!!! ...", "aa")) // tokenless: must be absent from output
    val d = graft.ops.Sampling.splitByHash(docs.toDF("doc_id", "text", "lang"),
      col("doc_id"), Seq(0.8, 0.2), salt = "lid")
    def run() = graft.ops.TextOps.langIdNgram(
      d, "doc_id", "text", "lang", col("split") === 0)
    val rows = run().orderBy("id").collect()
    assert(rows.length == 60, s"tokenless doc must be absent: ${rows.length}")
    val wrong = rows.filterNot(_.getAs[Boolean]("correct"))
    assert(wrong.isEmpty, s"misclassified: ${wrong.mkString(", ")}")
    assert(rows.exists(!_.getAs[Boolean]("is_train")), "held-out slice empty")
    // integer-exact determinism: an independent re-run is bit-identical
    assert(rows.toSeq == run().orderBy("id").collect().toSeq)
  }

  test("tokensArr agrees with the reference tokenizer on arbitrary text") {
    import spark.implicits._
    def model(s: String): Seq[String] =
      s.toLowerCase.split("[^a-z0-9]+").filter(_.nonEmpty).toSeq
    val ss = samples(anyStr, 200).distinct
    val got = ss.toDF("s")
      .select(col("s"), graft.functions.TextAnalysis.tokensArr(col("s")))
      .as[(String, Seq[String])].collect().toMap
    ss.foreach { s => assert(got(s) == model(s), s"tokens(${s.getBytes.toSeq})") }
  }

  test("rolling hash matches the reference recurrence on arbitrary text") {
    import spark.implicits._
    def model(s: String): Long =
      s.codePoints().toArray.foldLeft(0L)((h, c) => (h * 31 + c) % 2147483647L)
    val ss = samples(anyStr, 200).distinct
    val got = ss.toDF("s")
      .select(col("s"), graft.functions.TextAnalysis.fingerprintRolling(col("s")))
      .as[(String, Long)].collect().toMap
    ss.foreach { s => assert(got(s) == model(s), s"rolling(${s.getBytes.toSeq})") }
  }

  test("jaccardPairs equals the naive all-pairs spec on generated corpora") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{array_intersect, col, collect_set, size}
    // small vocab forces heavy overlap — the adversarial regime for the
    // prefix/length/positional filters; include empty and dup docs
    val doc: Gen[String] = Gen.chooseNum(0, 8).flatMap(n =>
      Gen.listOfN(n, Gen.oneOf("w0", "w1", "w2", "w3", "w4", "w5"))
        .map(_.mkString(" ")))
    for (tau <- Seq(0.5, 0.8); texts <- samples(Gen.listOfN(24, doc), 3)) {
      val docs = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
        .toDF("doc_id", "text")
      val fast = graft.dedup.Dedup.jaccardPairs(docs, "doc_id", "text", tau)
        .select("a", "b").as[(Long, Long)].collect().toSet
      val toks = graft.dedup.Dedup.tokenSet(docs, "doc_id", "text")
        .groupBy("id").agg(collect_set("tok").as("set"))
      val naive = toks.as("x").join(toks.as("y"), col("x.id") < col("y.id"))
        .withColumn("i", size(array_intersect(col("x.set"), col("y.set"))).cast("double"))
        .withColumn("j", col("i") / (size(col("x.set")) + size(col("y.set")) - col("i")))
        .filter(col("j") >= tau)
        .select(col("x.id"), col("y.id")).as[(Long, Long)].collect().toSet
      assert(fast == naive, s"tau=$tau texts=$texts")
    }
  }

  test("classic facade and relational word count agree on generated text") {
    import spark.implicits._
    // same tokenizer contract through two entirely different execution
    // paths: user-closure map/combine/reduce vs codegen'd explode+agg
    val job = graft.api.Classic.Job(
      map = line => line.toLowerCase.split("[^a-z0-9]+").toSeq
        .filter(_.nonEmpty).map(_ -> "1"),
      combiner = Some((k, vs) => Iterator.single(k -> vs.map(_.toLong).sum.toString)),
      reduce = Some((k, vs) => Iterator.single(k -> vs.map(_.toLong).sum.toString)),
      partitions = 3)
    samples(Gen.listOfN(10, anyStr), 3).foreach { texts =>
      val classic = graft.api.Classic
        .run(spark, spark.createDataset(texts), job)
        .collect().map { case (k, v) => k -> v.toLong }.toMap
      val relational = graft.ops.TextOps.wordCount(texts.toDF("text"), "text")
        .as[(String, Long)].collect().toMap
      assert(classic == relational, s"texts=$texts")
    }
  }

  test("rangeJoin equals the naive BETWEEN join on generated intervals") {
    import spark.implicits._
    val pointG: Gen[Double] = Gen.chooseNum(-100.0, 100.0)
    val ivalG: Gen[(Double, Double)] =
      Gen.zip(Gen.chooseNum(-100.0, 100.0), Gen.chooseNum(0.0, 40.0))
        .map { case (lo, span) => (lo, lo + span) }
    samples(Gen.zip(Gen.listOfN(40, pointG), Gen.listOfN(12, ivalG)), 3)
      .foreach { case (ps, ivs) =>
        val points = ps.zipWithIndex.map { case (v, i) => (i.toLong, v) }
          .toDF("pid", "v")
        val intervals = ivs.zipWithIndex.map { case ((lo, hi), i) =>
          (i.toLong, lo, hi) }.toDF("iid", "lo", "hi")
        val fast = graft.ops.RelationalOps
          .rangeJoin(points, "v", intervals, "lo", "hi", bucketWidth = 10.0)
          .select("pid", "iid").as[(Long, Long)].collect().toSet
        val naive = points.join(intervals,
            col("v") >= col("lo") && col("v") < col("hi"))
          .select("pid", "iid").as[(Long, Long)].collect().toSet
        assert(fast == naive)
      }
  }

  test("CDC chunking: lossless coverage and partitioning-independence on random payloads") {
    import spark.implicits._
    val rnd = new scala.util.Random(42)
    val payloads = (0L until 6L).map { id =>
      (id, Array.fill[Byte](200 + rnd.nextInt(5000))(rnd.nextInt(256).toByte))
    }
    def chunksWith(parts: Int) = graft.multimodal.Multimodal
      .cdcChunks(spark, payloads.toDF("id", "payload").repartition(parts),
        maskBits = 8, window = 16, minChunk = 64, maxChunk = 1024)
      .collect().sortBy(c => (c.id, c.idx)).toSeq
    val a = chunksWith(1)
    // coverage: contiguous, exact, bounded
    for ((id, bytes) <- payloads) {
      val cs = a.filter(_.id == id)
      assert(cs.map(_.nBytes.toLong).sum == bytes.length)
      assert(cs.forall(c => c.nBytes <= 1024))
      assert(cs.init.forall(c => c.nBytes >= 64)) // only the tail may be short
      cs.sliding(2).foreach {
        case Seq(x, y) => assert(y.offset == x.offset + x.nBytes)
        case _ =>
      }
    }
    // determinism: boundaries cannot depend on how rows were partitioned
    assert(a == chunksWith(5))
  }

  test("XML escape/extract round-trips arbitrary unicode text") {
    import graft.io.Xml
    import spark.implicits._
    // exclude XML-unrepresentable control chars (documented limitation);
    // \r and \n are representable and MUST survive
    val xmlSafe: Gen[String] = Gen.listOf(Gen.oneOf(
      Gen.alphaNumChar, Gen.oneOf('\n', '\r', ' ', '&', '<', '>', '"',
        '\'', 'ß', '中', ']', '）'))).map(_.mkString)
    val texts = samples(xmlSafe, 150).distinct
    val got = texts.toDF("t")
      .withColumn("back", Xml.extractCol(
        concat(lit("<d><t>"), Xml.escapeCol(col("t")), lit("</t></d>")), "t"))
      .select("t", "back").as[(String, Seq[String])].collect().toMap
    texts.foreach { t =>
      assert(got(t) == Seq(t), s"bytes=${t.getBytes("UTF-8").toSeq}")
    }
  }

  test("hashSample is repartition-invariant and near the target rate") {
    import spark.implicits._
    val df = spark.range(0, 20000).select(col("id"))
    def ids(parts: Int) = graft.ops.Sampling
      .hashSample(df.repartition(parts), col("id"), 0.3, salt = "p")
      .as[Long].collect().toSet
    val a = ids(2)
    assert(a == ids(13)) // the draw depends only on (key, salt)
    val rate = a.size.toDouble / 20000
    assert(math.abs(rate - 0.3) < 0.02, s"rate=$rate")
  }

  test("redis round-trips arbitrary unicode keys and values (RESP is length-prefixed)") {
    import spark.implicits._
    val srv = new graft.io.MiniRedis()
    try {
      // embedded \r\n and multi-byte chars must survive: bulk strings are
      // length-prefixed, never delimiter-scanned
      val kvG = Gen.zip(
        Gen.nonEmptyListOf(Gen.oneOf(Gen.alphaNumChar, Gen.const('中'))).map(_.mkString),
        Gen.listOf(Gen.oneOf(Gen.alphaNumChar, Gen.oneOf('\r', '\n', ' ', 'ß', '中')))
          .map(_.mkString))
      val pairs = samples(kvG, 60).distinct
      graft.io.Redis.write(pairs.toDF("key", "value"), srv.url())
      val back = graft.io.Redis.read(spark, Seq(srv.url()), scanCount = 7)
        .as[(String, String)].collect().toSeq
      assert(back.sorted == pairs.sorted, s"n=${pairs.size}")
    } finally srv.close()
  }

  test("framed external pipe is the identity on random binary frames") {
    import spark.implicits._
    val rnd = new scala.util.Random(11)
    val frames = (0 until 40).map { i =>
      (Array.fill[Byte](1 + rnd.nextInt(50))(rnd.nextInt(256).toByte),
        Array.fill[Byte](rnd.nextInt(300))(rnd.nextInt(256).toByte))
    }
    val back = graft.api.External
      .pipeFramed(frames.toDS().repartition(3), Seq("cat"))
      .collect().map { case (k, v) => (k.toSeq, v.toSeq) }.sortBy(_.toString)
    val want = frames.map { case (k, v) => (k.toSeq, v.toSeq) }.sortBy(_.toString)
    assert(back.toSeq == want)
  }

  test("minhash LSH pairs are a verified subset on generated corpora") {
    import spark.implicits._
    val doc: Gen[String] = Gen.chooseNum(3, 10).flatMap(n =>
      Gen.listOfN(n, Gen.oneOf("a0", "b1", "c2", "d3", "e4", "f5", "g6"))
        .map(_.mkString(" ")))
    samples(Gen.listOfN(20, doc), 2).foreach { texts =>
      val docs = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
        .toDF("doc_id", "text")
      val got = graft.dedup.Dedup.minhashLshPairs(docs, "doc_id", "text",
        shingleN = 2, bands = 4, rowsPerBand = 4, tau = 0.6)
        .as[(Long, Long, Double)].collect()
      // precision = 1: every emitted pair is exactly verified >= tau
      assert(got.forall(p => p._3 >= 0.6 && p._1 < p._2))
      // identical texts share every band -> must always be found
      val twins = texts.zipWithIndex.groupBy(_._1).values
        .filter(_.size > 1)
        .flatMap(g => g.map(_._2.toLong).sorted.combinations(2))
        .map { case Seq(x, y) => (x, y) }.toSet
      val gotPairs = got.map(p => (p._1, p._2)).toSet
      assert(twins.subsetOf(gotPairs), s"missed twins: ${twins -- gotPairs}")
    }
  }

  test("QExpr: render-parse is the identity for any query tree") {
    import graft.query.QExpr
    import graft.query.QExpr.{And, Lit, Not, Or, Q}
    val key: Gen[String] =
      Gen.nonEmptyListOf(Gen.alphaNumChar).map(_.mkString)
    def qGen(depth: Int): Gen[Q] =
      if (depth == 0) key.map(Lit)
      else Gen.frequency(
        3 -> key.map(Lit),
        2 -> Gen.zip(qGen(depth - 1), qGen(depth - 1)).map(t => And(t._1, t._2)),
        2 -> Gen.zip(qGen(depth - 1), qGen(depth - 1)).map(t => Or(t._1, t._2)),
        1 -> qGen(depth - 1).map(Not))
    // fully parenthesized rendering is unambiguous at every precedence
    def render(q: Q): String = q match {
      case Lit(k)    => k
      case And(l, r) => s"(${render(l)} & ${render(r)})"
      case Or(l, r)  => s"(${render(l)} | ${render(r)})"
      case Not(x)    => s"~(${render(x)})"
    }
    samples(qGen(4), 300).foreach { q =>
      assert(QExpr.parse(render(q)) == q, s"q=$q rendered=${render(q)}")
    }
  }

  test("applyChangelog agrees with a per-key reference fold on random changelogs") {
    import spark.implicits._
    // random snapshots (unique keys) and changelogs (unique (key, version),
    // versions disjoint from the snapshot's implicit version 0)
    val caseGen = for {
      snapKeys <- Gen.someOf(0L until 12L)
      chg <- Gen.listOfN(18, Gen.zip(Gen.choose(0L, 11L), Gen.choose(1L, 9L),
        Gen.alphaStr.map(_.take(3)), Gen.oneOf("upsert", "delete")))
    } yield (snapKeys.toSeq, chg.distinctBy(c => (c._1, c._2)))
    samples(caseGen, 40).zipWithIndex.foreach { case ((snapKeys, chg), i) =>
      val snap = snapKeys.map(k => (k, 0L, s"s$k")).toDF("k", "version", "payload")
      val changes = chg.toDF("k", "version", "payload", "op")
      val got = graft.ops.ChangeOps.applyChangelog(snap, changes, "k", "version", "op")
        .as[(Long, Long, String)].collect().toSet
      // reference: per key, the max-version row across snapshot + changes
      val all = snapKeys.map(k => (k, 0L, s"s$k", "upsert")) ++ chg
      val want = all.groupBy(_._1).values.map(_.maxBy(_._2))
        .filter(_._4 == "upsert").map(r => (r._1, r._2, r._3)).toSet
      assert(got == want, s"case $i: snap=$snapKeys chg=$chg")
    }
  }

  test("pmiPairs: per-doc cap bounds a pathological doc; generous cap is a no-op") {
    import spark.implicits._
    // 40 normal docs over a 6-word vocab + ONE hostile doc carrying 100
    // distinct tokens that are all corpus-frequent (each also appears in
    // 10 other docs, so minDocFreq keeps them) — the straggler shape:
    // uncapped, the hostile doc alone contributes 100·99/2 = 4950 pairs
    val vocab = Seq("aa", "bb", "cc", "dd", "ee", "ff")
    val normal = (0 until 40).map(i =>
      (i.toLong, (0 until 3).map(j => vocab((i + j) % 6)).mkString(" ")))
    val hostileToks = (0 until 100).map(i => f"hot$i%03d")
    val boosters = (0 until 10).map(i =>
      (100L + i, hostileToks.mkString(" "))) // make every hot token frequent
    val corpus = (normal ++ boosters :+ (999L, hostileToks.mkString(" ")))
      .toDF("doc_id", "text")
    val uncapped = graft.ops.TextOps.pmiPairs(corpus, "doc_id", "text",
      minDocFreq = 5, maxTokensPerDoc = 100000)
    val capped = graft.ops.TextOps.pmiPairs(corpus, "doc_id", "text",
      minDocFreq = 5, maxTokensPerDoc = 20)
    // the cap bounds the hostile doc's quadratic term: all 100 hot tokens
    // tie on doc freq (11), the token-asc tie-break keeps hot000..hot019,
    // so EXACTLY C(20,2) hot pairs survive and none involves hot020+
    val hotPairs = capped.filter(col("x").startsWith("hot"))
    assert(hotPairs.count() == 20 * 19 / 2,
      "expected exactly C(20,2) pairs from the sliced hostile docs")
    assert(hotPairs.filter(col("x") >= "hot020" || col("y") >= "hot020")
      .count() == 0, "cap leaked tokens beyond the top-20 slice")
    assert(uncapped.select("x", "y").distinct().count() >= 100 * 99 / 2)
    // a cap above every doc's kept-token count changes nothing (the
    // fixture-parity contract that keeps q_pmi hash-green)
    val generous = graft.ops.TextOps.pmiPairs(corpus, "doc_id", "text",
      minDocFreq = 5, maxTokensPerDoc = 101)
    assert(generous.exceptAll(uncapped).isEmpty && uncapped.exceptAll(generous).isEmpty)
    // determinism: the top-m slice is (docfreq desc, token asc) — same
    // result on a different physical partitioning
    val repart = graft.ops.TextOps.pmiPairs(corpus.repartition(13), "doc_id",
      "text", minDocFreq = 5, maxTokensPerDoc = 20)
    assert(repart.exceptAll(capped).isEmpty && capped.exceptAll(repart).isEmpty)
  }

  test("compressionRatio: deterministic, bounded, and orders boilerplate < prose < noise") {
    import spark.implicits._
    val docs = Seq(
      (1L, "abc " * 500),                                   // pure boilerplate
      (2L, "the quick brown fox jumps over the lazy dog " * 25), // repetitive prose
      (3L, { val rnd = new scala.util.Random(42)
             Array.fill(2000)((rnd.nextInt(94) + 33).toChar).mkString }), // noise
      (4L, "")).toDF("doc_id", "text")
    val a = graft.ops.TextOps.compressionRatio(docs, "doc_id", "text")
      .orderBy("id").as[(Long, Long, Option[Double])].collect()
    val b = graft.ops.TextOps.compressionRatio(docs.repartition(7), "doc_id", "text")
      .orderBy("id").as[(Long, Long, Option[Double])].collect()
    assert(a.sameElements(b), "ratio must be partitioning-deterministic")
    val r = a.map(x => x._1 -> x._3).toMap
    assert(r(1L).get < r(2L).get && r(2L).get < r(3L).get,
      s"expected boilerplate < prose < noise, got $r")
    assert(r(3L).get > 0.5, s"incompressible noise should stay near 1: ${r(3L)}")
    assert(r(4L).isEmpty, "empty doc has no ratio")
  }

  test("compressibilityProfile ranks boilerplate < prose < noise like the zlib ratio") {
    import spark.implicits._
    // Same fixture as the compressionRatio spec: the oracle-replayable
    // profile must order documents the way the (spec-only) deflate ratio
    // does, or it isn't a valid stand-in for the quality filter.
    val docs = Seq(
      (1L, "abc " * 500),
      (2L, "the quick brown fox jumps over the lazy dog " * 25),
      (3L, { val rnd = new scala.util.Random(42)
             Array.fill(2000)((rnd.nextInt(94) + 33).toChar).mkString }),
      (4L, ""), (5L, "short")).toDF("doc_id", "text")
    val p = graft.ops.TextOps.compressibilityProfile(docs, "doc_id", "text")
      .orderBy("id")
      .as[(Long, Long, Option[Double], Option[Double])].collect()
    val byId = p.map(x => x._1 -> x).toMap
    def frac(id: Long) = byId(id)._3.get
    def ent(id: Long) = byId(id)._4.get
    assert(frac(1L) < frac(2L) && frac(2L) < frac(3L),
      s"8-gram fraction must rank boilerplate < prose < noise: ${p.toSeq}")
    assert(ent(1L) < ent(2L) && ent(2L) < ent(3L),
      s"entropy must rank boilerplate < prose < noise: ${p.toSeq}")
    // exact closed forms on the boilerplate doc: "abc " repeated has
    // exactly 4 distinct 8-grams (one per phase) over 1993 windows, and
    // char entropy = ln(4) for the uniform 4-char alphabet (500 each)
    assert(frac(1L) == BigDecimal(4.0 / 1993).setScale(6,
      BigDecimal.RoundingMode.HALF_UP).toDouble, s"got ${frac(1L)}")
    assert(math.abs(ent(1L) - math.log(4.0)) < 5e-4, s"got ${ent(1L)}")
    assert(frac(3L) > 0.99, "2000 random printable chars repeat almost no 8-gram")
    assert(byId(4L)._3.isEmpty && byId(4L)._4.isEmpty, "empty doc -> NULLs")
    assert(byId(5L)._3.isEmpty && byId(5L)._4.nonEmpty,
      "sub-8-char doc has entropy but no 8-gram fraction")
    // partitioning-deterministic
    val q = graft.ops.TextOps.compressibilityProfile(
        docs.repartition(7), "doc_id", "text").orderBy("id")
      .as[(Long, Long, Option[Double], Option[Double])].collect()
    assert(p.sameElements(q))
  }

  test("winnowFingerprints: the shared-substring guarantee, coverage, determinism") {
    import spark.implicits._
    val shared = "the stolen passage lives here"
    val docs = Seq(
      (1L, s"alpha beta $shared gamma delta epsilon"),
      (2L, s"completely different framing text $shared and a different tail"),
      (3L, "nothing in common with the others at all zilch")).toDF("doc_id", "text")
    val fp = graft.ops.TextOps.winnowFingerprints(docs, "doc_id", "text",
        k = 5, window = 4)
      .as[(Long, Long, Long)].collect()
    val byDoc = fp.groupBy(_._1).view.mapValues(_.map(_._3).toSet).toMap
    // the paper's guarantee: a shared substring of length >= k+window-1
    // (here 29 chars >> 8) must contribute >= 1 IDENTICAL fingerprint
    val common12 = byDoc(1L) intersect byDoc(2L)
    assert(common12.nonEmpty,
      s"docs sharing a 29-char passage must share a fingerprint")
    // and that shared fingerprint must come from the planted passage:
    // hash the passage's own grams and check the overlap is real
    val pfp = graft.ops.TextOps.winnowFingerprints(
        Seq((9L, shared)).toDF("doc_id", "text"), "doc_id", "text", 5, 4)
      .as[(Long, Long, Long)].collect().map(_._3).toSet
    assert((common12 intersect pfp).nonEmpty,
      "the doc-1/doc-2 overlap must include a passage fingerprint")
    // unrelated docs: no guarantee of zero overlap, but the planted case
    // must dominate (doc 3 shares the common English words only)
    assert(common12.size > (byDoc(1L) intersect byDoc(3L)).size)
    // coverage: selected positions are never more than `window` apart
    // (every window of 4 gram positions contains a selection)
    for ((id, rows) <- fp.groupBy(_._1)) {
      val pos = rows.map(_._2).sorted
      val gaps = pos.zip(pos.drop(1)).map { case (a, b) => b - a }
      assert(gaps.forall(_ <= 4), s"doc $id has a coverage gap: $gaps")
    }
    // density: robust winnowing keeps ~2/(w+1) of grams, far under 100%
    val n1 = docs.filter($"doc_id" === 1L).select(length(regexp_replace(
      trim(lower($"text")), "\\s+", " "))).head.getInt(0) - 4
    assert(byDoc(1L).size < n1, "selection must be a strict subset of grams")
    // partitioning-deterministic
    val fp2 = graft.ops.TextOps.winnowFingerprints(docs.repartition(7),
        "doc_id", "text", k = 5, window = 4)
      .as[(Long, Long, Long)].collect()
    assert(fp.toSet == fp2.toSet)
  }

  test("winnowSpans: anchors point at genuinely equal grams; parity with winnowMatches") {
    import spark.implicits._
    val shared = "the stolen passage lives here and keeps going for a while"
    val raw = Seq(
      (1L, s"alpha beta $shared gamma delta epsilon"),
      (2L, s"completely different framing text $shared and a different tail"),
      (3L, "nothing in common with the others at all zilch"))
    val docs = raw.toDF("doc_id", "text")
    val k = 5
    val spans = graft.ops.TextOps.winnowSpans(docs, "doc_id", "text",
        k = k, window = 4, maxDf = 10, minShared = 2)
      .as[(Long, Long, Long, Long, Long)].collect()
    assert(spans.nonEmpty)
    // brute-force parity: every anchor pair must point at IDENTICAL
    // k-grams of the two normalized texts (fp equality is not trusted —
    // the strings themselves must match)
    val norm = raw.map { case (id, t) =>
      id -> t.trim.toLowerCase.replaceAll("\\s+", " ") }.toMap
    for ((a, b, _, aPos, bPos) <- spans) {
      val ga = norm(a).substring(aPos.toInt, aPos.toInt + k)
      val gb = norm(b).substring(bPos.toInt, bPos.toInt + k)
      assert(ga == gb, s"anchor ($a@$aPos, $b@$bPos): '$ga' != '$gb'")
    }
    // the planted passage must be what the (1,2) spans point into
    val p12 = spans.filter(s => s._1 == 1L && s._2 == 2L)
    assert(p12.nonEmpty)
    val s1 = norm(1L).indexOf(shared); val e1 = s1 + shared.length
    assert(p12.exists(s => s._4 >= s1 && s._4 + k <= e1),
      "at least one doc-1 anchor must land inside the planted passage")
    // pair + count parity with winnowMatches: identical gate
    val matches = graft.ops.TextOps.winnowMatches(docs, "doc_id", "text",
        k = k, window = 4, maxDf = 10, minShared = 2)
      .as[(Long, Long, Long)].collect()
      .map(r => (r._1, r._2) -> r._3).toMap
    val byPair = spans.groupBy(s => (s._1, s._2))
      .view.mapValues(_.map(_._3).distinct.size.toLong).toMap
    assert(byPair == matches,
      s"span pairs/distinct-fp counts must equal winnowMatches: $byPair vs $matches")
  }

  test("prCurve: matches a brute-force sweep and is partitioning-deterministic") {
    import spark.implicits._
    val rnd = new scala.util.Random(91)
    val rows = Seq.fill(500)((if (rnd.nextBoolean()) 1 else 0,
      rnd.nextInt(20).toLong))
    val df = rows.toDF("lab", "score")
    def curve(in: org.apache.spark.sql.DataFrame) =
      graft.ops.EvalMetrics.prCurve(in, "lab", "score")
        .orderBy("thr")
        .as[(Double, Long, Long, Long, Long, Double, Double, Double)].collect()
    val got = curve(df)
    val p = rows.count(_._1 == 1)
    val n = rows.size - p
    for ((thr, tp, fp, fn, tn, prec, rec, f1) <- got) {
      val eTp = rows.count(r => r._1 == 1 && r._2 >= thr)
      val eFp = rows.count(r => r._1 == 0 && r._2 >= thr)
      assert(tp == eTp && fp == eFp && fn == p - eTp && tn == n - eFp,
        s"thr=$thr")
      assert(tp + fp > 0, "every threshold row has at least its own rows")
      val ePrec = tp.toDouble / (tp + fp)
      val eRec = tp.toDouble / p
      assert(math.abs(prec - ePrec) < 1e-6 && math.abs(rec - eRec) < 1e-6)
      if (tp == 0) assert(f1 == 0.0)
      else assert(math.abs(f1 - 2 * ePrec * eRec / (ePrec + eRec)) < 1e-6)
    }
    // curve monotonicity: recall never increases with thr, tp+fp shrinks
    assert(got.map(_._7).toSeq == got.map(_._7).sorted.reverse.toSeq)
    // one row per distinct score
    assert(got.length == rows.map(_._2).distinct.size)
    val repart = curve(df.repartition(13))
    assert(repart.sameElements(got))
    // the same curve from the multi-range prefix sums
    for (w <- Seq(7, 32); in <- Seq(df, df.repartition(13)))
      assert(withRankWidth(w)(curve(in)).sameElements(got), s"width $w")
  }

  test("prCurve: fractional scores keep full resolution (no integer collapse)") {
    import spark.implicits._
    // model-probability-shaped scores in [0,1]: a long cast would collapse
    // ALL of them to threshold 0 and emit a meaningless one-row curve
    val rows = Seq((1, 0.9), (1, 0.7), (0, 0.7), (0, 0.4), (1, 0.4), (0, 0.1))
    val df = rows.toDF("lab", "score")
    val got = graft.ops.EvalMetrics.prCurve(df, "lab", "score")
      .orderBy("thr")
      .as[(Double, Long, Long, Long, Long, Double, Double, Double)].collect()
    assert(got.map(_._1).toSeq == Seq(0.1, 0.4, 0.7, 0.9))
    for ((thr, tp, fp, fn, tn, prec, rec, _) <- got) {
      val eTp = rows.count(r => r._1 == 1 && r._2 >= thr)
      val eFp = rows.count(r => r._1 == 0 && r._2 >= thr)
      assert(tp == eTp && fp == eFp && fn == 3 - eTp && tn == 3 - eFp, s"thr=$thr")
      assert(math.abs(prec - eTp.toDouble / (eTp + eFp)) < 1e-6)
      assert(math.abs(rec - eTp / 3.0) < 1e-6)
    }
  }

  test("qualityRules: hand-computed signals and a discriminating verdict") {
    import spark.implicits._
    val docs = Seq(
      (1L, "the scan runs and the scan waits for the scan"), // top_share 3/10 of 'the'&'scan'... computed below
      (2L, ("the quick brown fox jumps over a lazy dog " * 4).trim),
      (3L, "short text here"),                   // too few words
      (4L, "alpha beta gamma delta " * 10)).toDF("doc_id", "text") // no stopwords
    val got = graft.ops.TextOps.qualityRules(docs, "doc_id", "text",
        minWords = 10, maxTopShare = 0.25)
      .orderBy("id")
      .as[(Long, Long, Double, Double, Double, Boolean)].collect()
    val byId = got.map(r => r._1 -> r).toMap
    // doc 1: 10 words, 'the'x3 'scan'x3 -> top_share 0.3 > 0.25 -> drop
    assert(byId(1L)._2 == 10L && byId(1L)._5 == 0.3 && !byId(1L)._6)
    // doc 2: 36 words, 'the'x4 stop_frac 8/36 (the+a), top 'the' 4/36 -> keep
    assert(byId(2L)._2 == 36L && byId(2L)._6,
      s"doc 2 should pass: ${byId(2L)}")
    assert(byId(2L)._4 == BigDecimal(8.0 / 36).setScale(6,
      BigDecimal.RoundingMode.HALF_UP).toDouble)
    // doc 3: 3 words < minWords -> drop
    assert(byId(3L)._2 == 3L && !byId(3L)._6)
    // doc 4: 40 words but zero stopwords -> drop
    assert(byId(4L)._2 == 40L && byId(4L)._4 == 0.0 && !byId(4L)._6)
    // fixture discrimination: the default thresholds keep SOME and drop
    // SOME real fixture docs (a one-sided verdict tests nothing)
    val fix = graft.ops.TextOps.qualityRules(
        graft.core.Tables.documents(spark, sfDir), "doc_id", "text")
      .groupBy("keep").count().as[(Boolean, Long)].collect().toMap
    assert(fix.getOrElse(true, 0L) > 0 && fix.getOrElse(false, 0L) > 0,
      s"degenerate verdict on fixture: $fix")
  }

  test("unigramSurprisal: rare-token docs score above common-token docs") {
    import spark.implicits._
    val docs = Seq(
      (1L, "common common common common"),
      (2L, "common common rare1 rare2"),
      (3L, "rare3 rare4 rare5 rare6")).toDF("doc_id", "text")
    val s = graft.ops.TextOps.unigramSurprisal(docs, "doc_id", "text")
      .orderBy("id").as[(Long, Long, Double)].collect()
    assert(s.map(_._2).toSeq == Seq(4L, 4L, 4L))
    assert(s(0)._3 < s(1)._3 && s(1)._3 < s(2)._3,
      s"surprisal must increase with token rarity: ${s.toSeq}")
    // all-common doc: p = 6/12 each token → surprisal = ln(2)
    assert(math.abs(s(0)._3 - math.log(12.0 / 6.0)) < 1e-3)
  }

  test("dsirWeights: target-vocab docs out-weigh raw-only docs; text-determined; repartition-invariant") {
    import spark.implicits._
    // target slice speaks {aa,bb,cc,dd,ee}; raw-only docs speak
    // {vv,ww,xx,yy,zz}; doc 6 mixes both vocabularies and must land
    // strictly between — and doc 3 (target vocab, NON-target doc) must
    // tie doc 1 exactly: the weight is a function of the text alone
    val docs = Seq(
      (1L, "aa bb cc dd ee", true), (2L, "aa bb cc dd ee", true),
      (3L, "aa bb cc dd ee", false),
      (4L, "vv ww xx yy zz", false), (5L, "vv ww xx yy zz", false),
      (6L, "aa bb vv ww xx", false)).toDF("doc_id", "text", "tgt")
    def run(df: org.apache.spark.sql.DataFrame) =
      graft.ops.TextOps.dsirWeights(df, "doc_id", "text", col("tgt"), dim = 64)
        .orderBy("id").as[(Long, Long, Double)].collect().toSeq
    val got = run(docs)
    assert(got.map(_._2) == Seq.fill(6)(5L), s"token counts: $got")
    val byId = got.map(r => r._1 -> r._3).toMap
    assert(byId(3L) == byId(1L), s"weight must depend on text only: $got")
    assert(byId(3L) > byId(6L) && byId(6L) > byId(4L),
      s"target-vocab > mixed > raw-only expected: $got")
    assert(got == run(docs.repartition(7)), "weights must be partitioning-independent")
  }

  test("bm25TopK: tf monotone, rare-term idf dominates, per-query isolation, k cap") {
    import spark.implicits._
    val docs = Seq(
      (1L, "apple apple banana"), (2L, "apple banana banana"),
      (3L, "cherry cherry cherry"), (4L, "banana"))
      .toDF("doc_id", "text")
    def run(df: org.apache.spark.sql.DataFrame, k: Int) =
      graft.ops.TextOps.bm25TopK(df, "doc_id", "text",
        Seq(1 -> Seq("apple"), 2 -> Seq("cherry", "banana")), k)
        .orderBy("qid", "rank").as[(Int, Long, Double, Int)].collect().toSeq
    val got = run(docs, 10)
    val q1 = got.filter(_._1 == 1)
    // only the apple docs answer q1; tf 2 outranks tf 1 at equal dl
    assert(q1.map(_._2) == Seq(1L, 2L), s"q1 ranking: $got")
    assert(q1.map(_._4) == Seq(1, 2))
    // cherry appears in ONE doc (max idf): doc 3 must lead q2 over the
    // banana docs (df 3)
    val q2 = got.filter(_._1 == 2)
    assert(q2.head._2 == 3L && q2.head._4 == 1, s"q2 ranking: $got")
    assert(q2.map(_._2).toSet == Set(1L, 2L, 3L, 4L))
    // k cap + determinism under repartition
    assert(run(docs, 1).map(_._2) == Seq(1L, 3L))
    assert(got == run(docs.repartition(5), 10),
      "ranking must be partitioning-independent")
  }

  test("media sniffers are TOTAL: arbitrary bytes and mutated valid files never throw") {
    import graft.multimodal.{AudioMeta, ImageMeta}
    val rnd = new scala.util.Random(31)
    // arbitrary garbage of many lengths
    for (len <- Seq(0, 1, 7, 11, 12, 13, 44, 100, 4096)) {
      val b = Array.fill[Byte](len)(rnd.nextInt(256).toByte)
      AudioMeta.sniff(b); ImageMeta.sniff(b) // must not throw
    }
    // valid containers with random single-byte mutations (lying sizes,
    // corrupted chunk ids, truncated headers) — parse must stay total
    val valids = Seq(
      AudioMeta.makeWav(2, 44100, 16, 50, "x".getBytes),
      AudioMeta.makeAiff(1, 22050, 16, 50, "x".getBytes),
      ImageMeta.makePng(64, 64, "x".getBytes),
      ImageMeta.makeJpeg(64, 64, "x".getBytes))
    for (v <- valids; _ <- 1 to 200) {
      val m = v.clone()
      m(rnd.nextInt(m.length)) = rnd.nextInt(256).toByte
      AudioMeta.sniff(m); ImageMeta.sniff(m) // any Option result is fine
      val cut = m.take(rnd.nextInt(m.length))
      AudioMeta.sniff(cut); ImageMeta.sniff(cut)
    }
  }

  test("skipgramPairs: window pairs enumerate exactly, counts symmetric") {
    import spark.implicits._
    val got = graft.ops.TextOps.skipgramPairs(
        Seq((1L, "a b c")).toDF("doc_id", "text"), "doc_id", "text", window = 2)
      .as[(String, String, Long)].collect().toSet
    assert(got == Set(("a", "b", 1L), ("a", "c", 1L), ("b", "c", 1L),
      ("b", "a", 1L), ("c", "a", 1L), ("c", "b", 1L)), s"got $got")
    // symmetry holds on arbitrary text: cnt(x,y) == cnt(y,x)
    val m = graft.ops.TextOps.skipgramPairs(
        Seq((1L, "x y x z y x w"), (2L, "z z y w")).toDF("doc_id", "text"),
        "doc_id", "text", window = 3)
      .as[(String, String, Long)].collect()
      .map { case (a, b, c) => (a, b) -> c }.toMap
    m.foreach { case ((a, b), c) =>
      assert(m((b, a)) == c, s"asymmetric: ($a,$b)=$c vs ${m((b, a))}")
    }
  }

  test("bigramLmScore ranks corpus-like text above shuffled text") {
    import spark.implicits._
    val docs = ((1 to 20).map(i => (i.toLong, "alpha beta gamma delta")) :+
      ((100L, "alpha beta gamma delta")) :+ ((200L, "delta beta alpha gamma")))
      .toDF("doc_id", "text")
    val s = graft.ops.TextOps.bigramLmScore(docs, "doc_id", "text")
      .as[(Long, Long, Double)].collect().map(r => r._1 -> r).toMap
    assert(s(100L)._2 == 3L) // 4 tokens -> 3 bigrams
    // fluent doc: every bigram seen 21x -> each lp = ln((21+1)/(22+4))
    val expect = math.log(22.0 / 26.0)
    assert(math.abs(s(100L)._3 - expect) < 2e-4, s"got ${s(100L)._3}")
    // shuffled doc: all bigrams unseen elsewhere (count 1) -> far lower
    assert(s(200L)._3 < s(100L)._3 - 1.0,
      s"shuffled ${s(200L)._3} not well below fluent ${s(100L)._3}")
    // single-token docs have no bigrams and are absent
    val one = graft.ops.TextOps.bigramLmScore(
      Seq((1L, "alpha"), (2L, "alpha beta")).toDF("doc_id", "text"),
      "doc_id", "text").select("id").as[Long].collect().toSet
    assert(one == Set(2L))
  }

  test("winnowSpansCross: planted eval leakage found with genuinely equal anchors") {
    import spark.implicits._
    val k = 5
    val evalDocs = Seq(
      (1L, "what is the capital of kazakhstan exactly"),
      (2L, "compute the determinant of this matrix now"))
    val trainDocs = Seq(
      (100L, "some ordinary training prose " +
        "what is the capital of kazakhstan exactly and more prose"), // leaks eval 1
      (101L, "completely clean document with its own words only here"),
      (102L, "prefix text compute the determinant of this matrix now suffix")) // leaks eval 2
    val spans = graft.ops.TextOps.winnowSpansCross(
        trainDocs.toDF("doc_id", "text"), evalDocs.toDF("doc_id", "text"),
        "doc_id", "text", k = k, window = 4, maxEvalDf = 10, minShared = 3)
      .as[(Long, Long, Long, Long, Long)].collect()
    val pairs = spans.map(s => (s._1, s._2)).toSet
    assert(pairs.contains((100L, 1L)) && pairs.contains((102L, 2L)),
      s"planted leaks must be reported: $pairs")
    assert(!pairs.exists(_._1 == 101L), "the clean doc must not be flagged")
    // anchors point at IDENTICAL k-grams of the normalized texts
    val norm = (trainDocs ++ evalDocs).map { case (id, t) =>
      id -> t.trim.toLowerCase.replaceAll("\\s+", " ") }.toMap
    for ((tid, eid, _, tPos, ePos) <- spans) {
      val gt = norm(tid).substring(tPos.toInt, tPos.toInt + k)
      val ge = norm(eid).substring(ePos.toInt, ePos.toInt + k)
      assert(gt == ge, s"anchor ($tid@$tPos, $eid@$ePos): '$gt' != '$ge'")
    }
  }

  test("lmFilter: gate equals the offline scorer; ref model discriminates unseen text") {
    import spark.implicits._
    // ref slice: 20 fluent docs over one vocabulary; non-ref: one doc in
    // the ref's own phrasing (should KEEP) and one doc of tokens the ref
    // has never seen (floors to ln(1/V) mass -> DROP)
    val docs = ((1 to 20).map(i => (i.toLong, true, "alpha beta gamma delta")) :+
      ((100L, false, "alpha beta gamma delta")) :+
      ((200L, false, "zeta eta theta iota"))).toDF("doc_id", "ref", "text")
    val thr = -1.0 // between fluent ln(22/26) ~ -0.17 and unseen ln(1/4) ~ -1.39
    val gate = graft.ops.TextOps.lmFilter(docs, "doc_id", "text", col("ref"), thr)
      .as[(Long, Long, Double, Boolean)].collect().map(r => r._1 -> r).toMap
    // gate == offline scorer: verdict is exactly score >= thr, row by row
    val offline = graft.ops.TextOps.bigramLmScoreRef(docs, "doc_id", "text", col("ref"))
      .as[(Long, Long, Double)].collect().map(r => r._1 -> r._3).toMap
    assert(gate.keySet == offline.keySet)
    gate.foreach { case (id, (_, _, score, keep)) =>
      assert(score == offline(id), s"doc $id: gate score differs from offline")
      assert(keep == (score >= thr), s"doc $id: verdict != score >= thr")
    }
    // in-model text scores like the ref slice itself; unseen-vocab text
    // floors toward ln(1/V) (V=4 -> each lp = ln(1/4)) and is dropped
    assert(gate(100L)._4 && gate(100L)._3 == offline(1L))
    assert(!gate(200L)._4)
    assert(math.abs(gate(200L)._3 - math.log(1.0 / 4.0)) < 1e-4) // round-4 output
    // self-trained special case: bigramLmScoreRef(ref=everything) == bigramLmScore
    val all = graft.ops.TextOps.bigramLmScoreRef(docs, "doc_id", "text", lit(true))
      .orderBy("id").as[(Long, Long, Double)].collect()
    val self = graft.ops.TextOps.bigramLmScore(docs, "doc_id", "text")
      .orderBy("id").as[(Long, Long, Double)].collect()
    assert(all.sameElements(self))
  }

  test("knLmScore: hand-computed interpolated KN on a 2-doc reference") {
    import spark.implicits._
    // ref corpus: "a b a", "b a c" ->
    //   V = |{a,b,c}| = 3; distinct bigrams B = |{ab, ba, ac}| = 3
    //   cb: ab=1 ba=2 ac=1; ctx a: cw=2,n1f=2; ctx b: cw=2,n1f=1
    //   n1b: a=1 b=1 c=1 -> pc(seen)=(1+1)/(3+3)=1/3, pc(unseen)=1/6
    val docs = Seq(
      (1L, true, "a b a"), (2L, true, "b a c"),
      (100L, false, "a b x"),   // seen-context bigram + unseen successor
      (200L, false, "x y z")    // unseen contexts: pure continuation
    ).toDF("doc_id", "ref", "text")
    // the op's determinism recipe, replayed independently: per-bigram
    // round-9 ln, exact decimal sum, round-4 mean
    def r(x: Double, s: Int) =
      BigDecimal(x).setScale(s, BigDecimal.RoundingMode.HALF_UP).toDouble
    def score(ps: Double*) =
      r(ps.map(p => BigDecimal(r(math.log(p), 9))).sum.toDouble / ps.size, 4)
    val got = graft.ops.TextOps.knLmScore(docs, "doc_id", "text", col("ref"))
      .as[(Long, Long, Double)].collect().map(t => t._1 -> (t._2, t._3)).toMap
    // hand-derived probabilities at d = 0.75:
    //   p(b|a) = (1-.75)/2 + .75*(2/2)*(1/3) = 0.375
    //   p(a|b) = (2-.75)/2 + .75*(1/2)*(1/3) = 0.75
    //   p(c|a) = (1-.75)/2 + .75*(2/2)*(1/3) = 0.375
    //   p(x|b) = max(0-.75,0)/2 + .75*(1/2)*(1/6) = 0.0625  (unseen succ)
    //   p(*|unseen w1) = pc(*) = 1/6                         (pure cont.)
    assert(got(1L) == ((2L, score(0.375, 0.75))))
    assert(got(2L) == ((2L, score(0.75, 0.375))))
    assert(got(100L) == ((2L, score(0.375, 0.0625))))
    assert(got(200L) == ((2L, score(1.0 / 6, 1.0 / 6))))
    // KN's defining property on this fixture: the unseen-successor bigram
    // is punished harder than pure add-one would (0.0625 < (0+1)/(cu+V))
    assert(got(100L)._2 < got(1L)._2)
    // non-default discount threads through: d = 0.5 ->
    //   p(b|a) = .25 + .5*(2/2)*(1/3) = 5/12; p(x|b) = .5*(1/2)*(1/6) = 1/24
    val d5 = graft.ops.TextOps.knLmScore(docs, "doc_id", "text", col("ref"),
        discount = 0.5)
      .as[(Long, Long, Double)].collect().map(t => t._1 -> t._3).toMap
    assert(d5(100L) == score(5.0 / 12, 1.0 / 24))
    // the shared-frame path (q_kn_heldout's shape: lmFrames built once,
    // localCheckpointed, fed to both models) equals the inline path
    val (bigr, refTok) = graft.ops.TextOps.lmFrames(docs, "doc_id", "text",
      col("ref"))
    val b = bigr.localCheckpoint(); val t = refTok.localCheckpoint()
    val viaFrames = graft.ops.TextOps.knLmScoreOn(b, t)
      .as[(Long, Long, Double)].collect().map(x => x._1 -> (x._2, x._3)).toMap
    assert(viaFrames == got)
    val addoneFrames = graft.ops.TextOps.bigramLmScoreOn(b, t)
      .orderBy("id").as[(Long, Long, Double)].collect()
    val addoneInline = graft.ops.TextOps.bigramLmScoreRef(docs, "doc_id",
        "text", col("ref"))
      .orderBy("id").as[(Long, Long, Double)].collect()
    assert(addoneFrames.sameElements(addoneInline))
  }

  test("zipfFit: hand-computed OLS on a planted power law; negative slope on the fixture") {
    import spark.implicits._
    // planted exact power law: token w_r repeated floor(1000/r) times ->
    // ln f = ln 1000 - ln r, so slope == -1, r2 == 1 up to the round-9
    // quantization of the ln values
    val rows = (1 to 50).flatMap { r =>
      Seq.fill(1000 / r)(s"w$r")
    }.mkString(" ")
    val df = Seq((1L, rows)).toDF("doc_id", "text")
    val fit = graft.ops.TextOps.zipfFit(df, "text", topN = 50).head()
    assert(fit.getLong(0) == 50)
    assert(math.abs(fit.getDouble(1) + 1.0) < 0.02, s"slope ${fit.getDouble(1)}")
    assert(fit.getDouble(3) > 0.999, s"r2 ${fit.getDouble(3)}")
    // the synthetic fixture corpus: slope is negative but FLAT (~-0.18 —
    // near-uniform token draws), which is precisely the unnatural-corpus
    // signal the data-card stat exists to surface
    val corpus = graft.ops.TextOps.zipfFit(
      graft.core.Tables.documents(spark, sfDir), "text").head()
    assert(corpus.getDouble(1) < 0.0)
    assert(corpus.getDouble(3) >= 0.0 && corpus.getDouble(3) <= 1.0)
  }

  test("heapsGrowth: cumulative, monotone, and exact at the final cut") {
    val docs = graft.core.Tables.documents(spark, sfDir)
    val g = graft.ops.TextOps.heapsGrowth(docs, "doc_id", "text", buckets = 10)
      .orderBy("bucket").collect()
    assert(g.length == 10)
    g.sliding(2).foreach { w =>
      assert(w(0).getLong(2) <= w(1).getLong(2)) // tokens cumulate
      assert(w(0).getLong(3) <= w(1).getLong(3)) // vocab cumulates
    }
    // final cut covers the whole corpus: totals equal direct counts
    val toks = docs.select(explode(
      graft.functions.TextAnalysis.tokensArr(col("text"))).as("tok"))
    assert(g.last.getLong(2) == toks.count())
    assert(g.last.getLong(3) == toks.distinct().count())
    // sublinear growth: vocabulary grows slower than tokens (Heaps beta<1)
    val tokRatio = g.last.getLong(2).toDouble / g.head.getLong(2)
    val vocRatio = g.last.getLong(3).toDouble / g.head.getLong(3)
    assert(vocRatio < tokRatio)
  }

  test("bm25 agrees with the textbook reference model") {
    import spark.implicits._
    val raw = Seq(
      (0L, "scan scan scan filter"),
      (1L, "scan filter join join window"),
      (2L, "column window column scan scan scan scan scan scan scan"),
      (3L, "join filter merge"), // matches no query term -> absent
      (4L, "window"))
    val terms = Seq("scan", "column", "window")
    val got = graft.ops.TextOps.bm25(raw.toDF("doc_id", "text"),
      "doc_id", "text", terms).as[(Long, Double)].collect().toMap
    val corpus = raw.map { case (id, t) => id -> t.split(" ").toSeq }
    val n = corpus.size
    val avgdl = corpus.map(_._2.size).sum.toDouble / n
    def ref(toks: Seq[String]): Double = terms.map { t =>
      val tf = toks.count(_ == t)
      if (tf == 0) 0.0 else {
        val df = corpus.count(_._2.contains(t))
        val idf = math.log(1.0 + (n - df + 0.5) / (df + 0.5))
        idf * (tf * 2.2) / (tf + 1.2 * (0.25 + 0.75 * toks.size / avgdl))
      }
    }.sum
    assert(!got.contains(3L), "doc with no query term must be absent")
    corpus.filter(_._1 != 3L).foreach { case (id, toks) =>
      assert(math.abs(got(id) - ref(toks)) < 1e-6,
        s"doc $id: got ${got(id)}, ref ${ref(toks)}")
    }
    // tf saturation still ranks the scan-heavy doc above the single-hit doc
    assert(got(2L) > got(4L))
  }

  test("triangleCount agrees with brute force on random graphs") {
    import spark.implicits._
    val edgeGen = Gen.listOfN(30,
      Gen.zip(Gen.choose(0L, 9L), Gen.choose(0L, 9L))).map(_.collect {
        case (a, b) if a != b => (math.min(a, b), math.max(a, b))
      }.distinct)
    samples(edgeGen, 25).filter(_.nonEmpty).zipWithIndex.foreach { case (es, i) =>
      val got = graft.ops.GraphOps.triangleCount(es.toDF("a", "b"))
        .collect().head.getLong(2)
      val set = es.toSet
      val nodes = es.flatMap(e => Seq(e._1, e._2)).distinct.sorted
      val want = (for {
        a <- nodes; b <- nodes if a < b; c <- nodes if b < c
        if set((a, b)) && set((b, c)) && set((a, c))
      } yield 1).size.toLong
      assert(got == want, s"case $i: edges=$es")
    }
  }

  test("labelPropagation matches a hand-simulated sync-LPA reference") {
    import spark.implicits._
    // two triangles {1,2,3} and {4,5,6} joined by the bridge 3-4; sync
    // rounds with (max count, min label) votes hand-simulate to:
    //   r1: 1→2 2→1 3→1 4→3 5→4 6→4
    //   r2: 1→1 2→1 3→1 4→4 5→3 6→3
    //   r3: 1→1 2→1 3→1 4→3 5→3 6→3
    val edges = Seq((1L, 2L), (1L, 3L), (2L, 3L), (4L, 5L), (4L, 6L),
      (5L, 6L), (3L, 4L)).toDF("a", "b")
    def run(k: Int): Map[Long, Long] =
      graft.ops.GraphOps.labelPropagation(edges, k)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(run(1) == Map(1L -> 2L, 2L -> 1L, 3L -> 1L, 4L -> 3L, 5L -> 4L, 6L -> 4L))
    assert(run(3) == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 3L, 5L -> 3L, 6L -> 3L))
  }

  test("kCore strips the periphery; reference-model agreement on random graphs") {
    import spark.implicits._
    // K4 {1,2,3,4} with a pendant chain 4-5-6: the 3-core is exactly K4
    val k4tail = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L),
      (3L, 4L), (4L, 5L), (5L, 6L)).toDF("a", "b")
    val got = graft.ops.GraphOps.kCore(k4tail, 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 3L, 2L -> 3L, 3L -> 3L, 4L -> 3L))
    // driver-side peeling reference on random graphs
    def ref(es: Seq[(Long, Long)], k: Int): Map[Long, Int] = {
      val und = es ++ es.map(_.swap)
      var alive = und.map(_._1).toSet
      var done = false
      while (!done) {
        val deg = und.filter(e => alive(e._1) && alive(e._2))
          .groupBy(_._1).map { case (v, xs) => v -> xs.size }
        val next = deg.filter(_._2 >= k).keySet
        done = next == alive
        alive = next
      }
      und.filter(e => alive(e._1) && alive(e._2))
        .groupBy(_._1).map { case (v, xs) => v -> xs.size }
    }
    val edgeGen = Gen.listOfN(30,
      Gen.zip(Gen.choose(0L, 9L), Gen.choose(0L, 9L))).map(_.collect {
        case (a, b) if a != b => (math.min(a, b), math.max(a, b))
      }.distinct)
    samples(edgeGen, 10).filter(_.nonEmpty).zipWithIndex.foreach { case (es, i) =>
      val want = ref(es, 3).map { case (v, d) => (v, d.toLong) }
      val have = graft.ops.GraphOps.kCore(es.toDF("a", "b"), 3)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(have == want, s"case $i: edges=$es")
    }
  }

  test("labelPropagation reference-model agreement on random graphs") {
    import spark.implicits._
    // brute-force sync LPA on the driver: argmax over neighbor labels,
    // ties to the smallest label, all nodes updated from the prior round
    def ref(es: Seq[(Long, Long)], iters: Int): Map[Long, Long] = {
      val nbrs = (es ++ es.map(_.swap)).groupBy(_._1)
        .map { case (v, ps) => v -> ps.map(_._2) }
      var lbl = nbrs.keys.map(v => v -> v).toMap
      for (_ <- 1 to iters) {
        lbl = nbrs.map { case (v, ns) =>
          val counts = ns.groupBy(lbl).map { case (l, xs) => (l, xs.size) }
          v -> counts.toSeq.maxBy { case (l, c) => (c, -l) }._1
        }
      }
      lbl
    }
    val edgeGen = Gen.listOfN(25,
      Gen.zip(Gen.choose(0L, 7L), Gen.choose(0L, 7L))).map(_.collect {
        case (a, b) if a != b => (math.min(a, b), math.max(a, b))
      }.distinct)
    samples(edgeGen, 12).filter(_.nonEmpty).zipWithIndex.foreach { case (es, i) =>
      val got = graft.ops.GraphOps.labelPropagation(es.toDF("a", "b"), 2)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got == ref(es, 2), s"case $i: edges=$es")
    }
  }

  test("lcs_len properties: bounds, identity, symmetry, concat superadditivity") {
    import spark.implicits._
    val tokGen = Gen.listOfN(10, Gen.oneOf("a", "b", "c", "d")).map(_.toSeq)
    val pairs = samples(Gen.zip(tokGen, tokGen), 60)
      .map { case (a, b) => (a.take(3 + a.hashCode.abs % 8),
        b.take(3 + b.hashCode.abs % 8)) }
    // one job: every case batched into one DataFrame (house convention)
    val df = pairs.toDF("a", "b").select(
      graft.functions.LcsLen.lcs_len(col("a"), col("b")).as("ab"),
      graft.functions.LcsLen.lcs_len(col("b"), col("a")).as("ba"),
      graft.functions.LcsLen.lcs_len(col("a"), col("a")).as("aa"),
      graft.functions.LcsLen.lcs_len(
        concat(col("a"), col("b")), concat(col("b"), col("a"))).as("cat"),
      size(col("a")).as("la"), size(col("b")).as("lb"))
    df.collect().foreach { r =>
      val (ab, ba, aa, cat, la, lb) = (r.getInt(0), r.getInt(1), r.getInt(2),
        r.getInt(3), r.getInt(4), r.getInt(5))
      assert(ab == ba, "LCS is symmetric")
      assert(ab <= math.min(la, lb), "LCS bounded by the shorter side")
      assert(aa == la, "LCS(a, a) = |a|")
      // LCS(a++b, b++a) >= max(|a|, |b|): b++? contains b, a++? contains a
      assert(cat >= math.max(la, lb), s"concat superadditivity: $cat < max($la,$lb)")
    }
  }

  test("hll estimate tracks true cardinality across random set sizes") {
    // batched: one register build per cardinality via a union of tagged
    // slices, then per-group estimates — the relative error must stay
    // within 5 standard errors (1.04/sqrt(256)) at every size
    val sizes = Seq(100L, 700L, 3000L, 9000L, 25000L)
    val df = sizes.map(n => spark.range(0, n)
        .select(lit(n).as("g"), col("id").as("k")))
      .reduce(_ unionByName _)
    val got = graft.functions.Sketches.hllDistinctByGroup(df, "g", col("k"))
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    val se = 1.04 / math.sqrt(256)
    sizes.foreach { n =>
      val rel = math.abs(got(n) - n) / n
      assert(rel < 5 * se, s"n=$n est=${got(n)} rel=$rel")
    }
  }
}
