package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Invariants for the near-dup family, fingerprints, quality scores and
  * language ID.
  */
class AdvancedTextSpec extends AnyFunSuite {
  import SparkTestSession.{spark, sfDir}

  private def q(name: String) = SparkEntry.queries(name)(spark, sfDir)

  private lazy val nDocs = Tables.documents(spark, sfDir).count()

  test("minhash groups cover all docs; group count <= near-dup signature count") {
    import spark.implicits._
    val mh = q("q_dedup_minhash")
    assert(mh.agg(sum($"group_size")).as[Long].head() == nDocs)
    // identical token sets hash identically → minhash can only merge
    // groups relative to the exact token-set signature
    assert(mh.count() <= q("q_dedup_near").count())
  }

  test("simhash groups cover all docs") {
    import spark.implicits._
    val sh = q("q_dedup_simhash")
    assert(sh.agg(sum($"group_size")).as[Long].head() == nDocs)
    assert(sh.filter($"simhash" < 0 || $"simhash" > 65535).count() == 0)
  }

  test("hamming pairs: ordered, distance bounded, include every same-sig pair") {
    import spark.implicits._
    val out = q("q_dedup_hamming")
    assert(out.filter($"doc_id_1" >= $"doc_id_2").count() == 0)
    assert(out.filter($"hamming" < 0 || $"hamming" > 1).count() == 0)
    // every identical-signature pair (hamming 0) must be present:
    // sum over simhash groups of C(size, 2)
    val expectedZero = q("q_dedup_simhash")
      .select(($"group_size" * ($"group_size" - 1) / 2).cast("long").as("p"))
      .agg(sum($"p")).as[Long].head()
    assert(out.filter($"hamming" === 0).count() == expectedZero)
  }

  test("ngram jaccard pairs are symmetric-free, above threshold, reflexivity sane") {
    import spark.implicits._
    val out = q("q_ngram_jaccard")
    assert(out.filter($"doc_id_1" >= $"doc_id_2").count() == 0)
    assert(out.filter($"jaccard" < 0.5 || $"jaccard" > 1.0).count() == 0)
  }

  test("ngram jaccard: shingle df cap drops hot-shingle pairs, keeps real ones") {
    import spark.implicits._
    // docs 1,2 share 2 of 3 shingles (J = 0.5 exactly, df = 2 per shared
    // shingle); docs 10..15 are identical copies of one hot phrase whose
    // single shingle has df = 6.
    val docs = (Seq(
      (1L, "a b c d e"),
      (2L, "a b c d f")) ++
      (10L to 15L).map(i => (i, "x y z"))).toDF("doc_id", "text")
    val uncapped = operators.AdvancedTextQueries.ngramJaccardPairs(docs, 1000)
      .select("doc_id_1", "doc_id_2").as[(Long, Long)].collect().toSet
    assert(uncapped.contains((1L, 2L)))
    assert(uncapped.count { case (a, b) => a >= 10 && b >= 10 } == 15,
      "all 15 pairs of the 6 identical docs expected without a cap")
    // cap 5 < df 6: the hot shingle never reaches collect_list, so its
    // pairs vanish; the ordinary pair is untouched
    val capped = operators.AdvancedTextQueries.ngramJaccardPairs(docs, 5)
      .select("doc_id_1", "doc_id_2").as[(Long, Long)].collect().toSet
    assert(capped == Set((1L, 2L)))
  }

  test("hamming banding: width=32/k=2 pairs match the brute-force scan") {
    import spark.implicits._
    // 30 varied docs: enough signature diversity that some pairs sit at
    // each distance 0/1/2/3+; completeness must hold for any of them
    val docs = (0L until 30L)
      .map(i => (i, s"w${i % 7} x${i % 5} y${i % 3} z${i % 11} q${i % 2}"))
      .toDF("doc_id", "text")
    val banded = operators.AdvancedTextQueries
      .dedupHammingPairs(docs, width = 32, k = 2, bucketCap = 100000)
      .select("doc_id_1", "doc_id_2", "hamming")
      .as[(Long, Long, Int)].collect().toSet
    val sigs = operators.AdvancedTextQueries.simhashSigs(docs, 32)
    val brute = sigs.as("a").join(sigs.as("b"), $"a.doc_id" < $"b.doc_id")
      .select($"a.doc_id", $"b.doc_id",
        bit_count($"a.simhash".bitwiseXOR($"b.simhash")).cast("int"))
      .as[(Long, Long, Int)].collect().filter(_._3 <= 2).toSet
    assert(brute.nonEmpty, "fixture should contain at least one close pair")
    assert(banded == brute,
      "banded multi-index must be exhaustive for Hamming <= k (pigeonhole)")
  }

  test("hamming banding: uneven width=9/k=3 still exhaustive (every band carries bits)") {
    import spark.implicits._
    // width=9, bands=4: a ceil split would give bands of 3/3/3/0 bits —
    // the empty fourth band has a constant key (one corpus-sized bucket).
    // The floor split yields 2/3/2/2; completeness must match brute force.
    val docs = (0L until 30L)
      .map(i => (i, s"w${i % 7} x${i % 5} y${i % 3} z${i % 11} q${i % 2}"))
      .toDF("doc_id", "text")
    val banded = operators.AdvancedTextQueries
      .dedupHammingPairs(docs, width = 9, k = 3, bucketCap = 100000)
      .select("doc_id_1", "doc_id_2", "hamming")
      .as[(Long, Long, Int)].collect().toSet
    val sigs = operators.AdvancedTextQueries.simhashSigs(docs, 9)
    val brute = sigs.as("a").join(sigs.as("b"), $"a.doc_id" < $"b.doc_id")
      .select($"a.doc_id", $"b.doc_id",
        bit_count($"a.simhash".bitwiseXOR($"b.simhash")).cast("int"))
      .as[(Long, Long, Int)].collect().filter(_._3 <= 3).toSet
    assert(brute.nonEmpty, "fixture should contain at least one close pair")
    assert(banded == brute)
    // and no band may ever be empty, for any (width, k) with k < width
    for (width <- 1 to 64; k <- 0 until math.min(width, 8)) {
      val bands = k + 1
      val widths = (0 until bands).map(j => (j + 1) * width / bands - j * width / bands)
      assert(widths.forall(_ >= 1), s"empty band at width=$width k=$k")
      assert(widths.sum == width, s"bands must partition bits at width=$width k=$k")
      // the band mask must never collapse to 0 (Scala shifts mod 64:
      // (1L << 64) - 1 == 0 — a constant key = one corpus-sized bucket)
      val masks = widths.map(w => if (w >= 64) -1L else (1L << w) - 1)
      assert(masks.forall(_ != 0L), s"zero band mask at width=$width k=$k")
    }
  }

  test("hamming bucket cap bounds a planted hot bucket, keeps normal pairs") {
    import spark.implicits._
    // 40 identical docs share every band bucket (population 40); two
    // other docs form an ordinary identical pair (population 2)
    val docs = ((0L until 40L).map(i => (i, "hot hot hot phrase")) ++
      Seq((100L, "cool distinct words here"), (101L, "cool distinct words here")))
      .toDF("doc_id", "text")
    val unc = operators.AdvancedTextQueries
      .dedupHammingPairs(docs, width = 16, k = 1, bucketCap = 100000)
    assert(unc.filter($"doc_id_1" < 40).count() == 40L * 39 / 2)
    // cap 10 < 40: the hot bucket is dropped BEFORE its quadratic
    // explosion; the ordinary pair survives
    val capped = operators.AdvancedTextQueries
      .dedupHammingPairs(docs, width = 16, k = 1, bucketCap = 10)
      .select("doc_id_1", "doc_id_2").as[(Long, Long)].collect().toSet
    assert(capped == Set((100L, 101L)))
  }

  test("fingerprint: one per doc, in range, order-sensitive on a planted case") {
    import spark.implicits._
    val fp = q("q_fingerprint")
    assert(fp.count() == nDocs)
    assert(fp.filter($"fingerprint" < 0 || $"fingerprint" >= 1000000007L).count() == 0)
    // permuted token order must change the fingerprint (position weights)
    val two = Seq((1L, "alpha beta gamma"), (2L, "gamma beta alpha"))
      .toDF("doc_id", "text")
    val tok = operators.TextQueries.tokens($"text")
    val fps = two.select($"doc_id", posexplode(tok).as(Seq("pos", "t")))
      .withColumn("term",
        (conv(substring(md5($"t"), 1, 8), 16, 10).cast("long") *
          ((($"pos" + 1) * lit(2654435761L)) % lit(1000003L))) % lit(1000000007L))
      .groupBy("doc_id").agg((sum($"term") % lit(1000000007L)).as("fp"))
      .select("fp").as[Long].collect().toSet
    assert(fps.size == 2)
  }

  test("chunking: token totals conserved, chunk text reassembles in order") {
    import spark.implicits._
    val chunks = q("q_chunk")
    val totalTokens = Tables.documents(spark, sfDir)
      .select(explode(operators.TextQueries.tokens($"text")).as("t")).count()
    assert(chunks.agg(sum($"n_tokens")).as[Long].head() == totalTokens)
    // every chunk except a doc's last has exactly 32 tokens
    val w = org.apache.spark.sql.expressions.Window.partitionBy("doc_id")
    val bad = chunks
      .withColumn("last", $"chunk_id" === max($"chunk_id").over(w))
      .filter(!$"last" && $"n_tokens" =!= 32).count()
    assert(bad == 0)
    // reassembled text matches the tokenized document
    val rebuilt = chunks
      .groupBy("doc_id")
      .agg(array_join(
        transform(sort_array(collect_list(struct($"chunk_id", $"chunk_text"))),
          s => s.getField("chunk_text")), " ").as("rebuilt"))
    val original = Tables.documents(spark, sfDir)
      .select($"doc_id", concat_ws(" ", operators.TextQueries.tokens($"text")).as("orig"))
    assert(rebuilt.join(original, "doc_id")
      .filter($"rebuilt" =!= $"orig").count() == 0)
  }

  test("strided chunking: overlap sizes exact on a planted doc, stride=size = disjoint") {
    import spark.implicits._
    // 10 tokens, size 4, stride 2 → chunks at 0,2,4,6,8 with sizes 4,4,4,4,2
    val doc = Seq((1L, (0 until 10).map(i => s"t${('a' + i).toChar}").mkString(" ")))
      .toDF("doc_id", "text")
    val out = operators.TextQueries.chunkTokensStrided(doc, 4, 2)
      .select($"chunk_id", $"n_tokens", $"chunk_text")
      .as[(Long, Long, String)].collect().sortBy(_._1)
    assert(out.map(_._1).toSeq == Seq(0L, 1L, 2L, 3L, 4L))
    assert(out.map(_._2).toSeq == Seq(4L, 4L, 4L, 4L, 2L))
    assert(out.head._3 == "ta tb tc td" && out(1)._3 == "tc td te tf")
    // consecutive chunks overlap by size - stride tokens
    assert(out.sliding(2).forall { case Array(a, b) =>
      a._3.split(" ").takeRight(2).sameElements(b._3.split(" ").take(2))
    })
    // stride == size degenerates to the disjoint q_chunk shape
    val disjoint = operators.TextQueries.chunkTokensStrided(doc, 4, 4)
      .agg(sum($"n_tokens")).as[Long].head()
    assert(disjoint == 10L)
  }

  test("decontamination: probes excluded, exact copies of probes dropped") {
    import spark.implicits._
    val clean = q("q_decontaminate").agg(sum($"clean_docs")).as[Long].head()
    val nonProbes = Tables.documents(spark, sfDir)
      .filter($"doc_id" % 97 =!= 0).count()
    assert(clean > 0 && clean < nonProbes,
      s"decontamination should drop some but not all of $nonProbes docs (kept $clean)")
    // any non-probe doc with text identical to a probe doc must be dropped
    val probeTexts = Tables.documents(spark, sfDir)
      .filter($"doc_id" % 97 === 0).select("text").distinct()
    val copies = Tables.documents(spark, sfDir)
      .filter($"doc_id" % 97 =!= 0)
      .join(probeTexts, Seq("text"), "left_semi").count()
    val expectedClean = nonProbes - copies
    assert(clean <= expectedClean,
      "an exact probe copy survived decontamination")
  }

  test("fuzzy decontamination: planted near-copy dropped, disjoint doc kept") {
    import spark.implicits._
    // doc 0 is the probe (0 % 97 = 0); doc 5 is an exact copy
    // (identical shingle set -> all 4 bands match -> dropped); docs 6
    // and 7 are shingle-disjoint -> zero bands match -> kept
    val toy = Seq(
      (0L, "en", "alpha beta gamma delta"),
      (5L, "en", "alpha beta gamma delta"),
      (6L, "en", "omicron sigma tau upsilon"),
      (7L, "de", "zeta eta theta iota")).toDF("doc_id", "lang", "text")
    val rows = operators.TextQueries.fuzzyDecontaminateFrom(toy).collect()
    val en = rows.find(_.getString(0) == "en").get
    val de = rows.find(_.getString(0) == "de").get
    assert(en.getLong(1) == 2 && en.getLong(2) == 1 && en.getLong(3) == 1,
      s"en row: $en (doc 5 dropped, doc 6 kept)")
    assert(de.getLong(1) == 1 && de.getLong(2) == 0 && de.getLong(3) == 1,
      s"de row: $de (doc 7 kept)")
    // corpus: accounting closes and the scrub is non-trivial
    val corpus = q("q_decontaminate_fuzzy").collect()
    assert(corpus.forall(r => r.getLong(1) == r.getLong(2) + r.getLong(3)))
    val dropped = corpus.map(_.getLong(2)).sum
    val total = corpus.map(_.getLong(1)).sum
    assert(dropped > 0 && dropped < total,
      s"fuzzy scrub should drop some but not all ($dropped of $total)")
  }

  test("pii redaction: plants scrubbed, clean text untouched") {
    import spark.implicits._
    val docs = Seq(
      (1L, "contact me at jane.doe+spam@example.co.uk today"),
      (2L, "server at 192.168.001.1 responded"),
      (3L, "call +1 (555) 123-4567 or 5551234567 now"),
      (4L, "plain words only here")).toDF("doc_id", "text")
    val out = docs.select($"doc_id",
      operators.TextQueries.redactPii($"text").as("r"))
      .as[(Long, String)].collect().toMap
    assert(out(1L) == "contact me at <EMAIL> today")
    assert(out(2L) == "server at <IP> responded")
    assert(out(3L) == "call <NUMBER> or <NUMBER> now")
    assert(out(4L) == "plain words only here")
  }

  test("pii count reconciles with the redactor's actual replacements") {
    import spark.implicits._
    val counts = q("q_pii_count")
      .as[(String, Long, Long)].collect()
      .map { case (p, _, m) => p -> m }.toMap
    // count each placeholder in the redacted corpus: the report's
    // n_matches per class must equal the replacements performed
    val red = q("q_redact_pii")
      .select(
        sum(size(split($"redacted", "<EMAIL>")) - 1).as("e"),
        sum(size(split($"redacted", "<IP>")) - 1).as("i"),
        sum(size(split($"redacted", "<NUMBER>")) - 1).as("n"))
      .as[(Long, Long, Long)].head()
    assert(counts("email") == red._1, s"email ${counts("email")} != ${red._1}")
    assert(counts("ipv4") == red._2, s"ipv4 ${counts("ipv4")} != ${red._2}")
    assert(counts("number") == red._3, s"number ${counts("number")} != ${red._3}")
    assert(counts.values.forall(_ > 0), "augmented corpus must exercise every class")
  }

  test("hash sampling: deterministic and ~10% of the corpus") {
    import spark.implicits._
    val s = q("q_sample_hash")
    val n = s.agg(sum($"n_sampled")).as[Long].head()
    assert(n > 0 && n < nDocs / 4, s"sample size $n of $nDocs looks wrong")
    val again = q("q_sample_hash")
    assert(s.exceptAll(again).count() == 0 && again.exceptAll(s).count() == 0)
  }

  test("quality: ratios in [0,1], score bounded") {
    import spark.implicits._
    val bad = q("q_text_quality").filter(
      $"type_token_ratio" < 0 || $"type_token_ratio" > 1 ||
        $"stopword_ratio" < 0 || $"stopword_ratio" > 1 ||
        $"quality_score" < 0 || $"quality_score" > 1.0001).count()
    assert(bad == 0)
  }

  test("collocations: at most 50, counts consistent, a known bigram surfaces") {
    import spark.implicits._
    val out = q("q_collocations").cache()
    assert(out.count() > 0 && out.count() <= 50)
    // a bigram cannot outnumber either of its words, and passes the floor
    assert(out.filter($"n_ab" > $"n_a" || $"n_ab" > $"n_b" ||
      $"n_ab" < 5).count() == 0)
    // cross-check one reported pair's count against a direct recompute
    val first = out.orderBy($"n_ab".desc, $"w1", $"w2").head()
    val (w1, w2, nAb) = (first.getString(0), first.getString(1), first.getLong(2))
    val direct = Tables.documents(spark, sfDir)
      .select($"doc_id", posexplode(operators.TextQueries.tokens($"text"))
        .as(Seq("pos", "w")))
      .withColumn("w2", lead($"w", 1).over(
        org.apache.spark.sql.expressions.Window
          .partitionBy("doc_id").orderBy($"pos")))
      .filter($"w" === w1 && $"w2" === w2).count()
    assert(direct == nAb, s"reported $nAb for ($w1,$w2), direct count $direct")
    out.unpersist()
  }

  test("keywords: 3 per doc (or doc vocab), tf bounded by doc length, df >= 1") {
    import spark.implicits._
    val out = q("q_keywords").cache()
    // every doc contributes min(3, |vocab|) rows, ranks dense 1..k
    val perDoc = out.groupBy("doc_id")
      .agg(count(lit(1)).as("k"), max($"rank").as("maxr"))
    assert(perDoc.filter($"k" =!= $"maxr" || $"k" > 3).count() == 0)
    assert(perDoc.count() == nDocs)
    assert(out.filter($"tf" < 1 || $"df" < 1).count() == 0)
    // rank-1 term: no other term in the doc has a strictly higher tf
    val tfAll = Tables.documents(spark, sfDir)
      .select($"doc_id", explode(operators.TextQueries.tokens($"text")).as("w"))
      .groupBy("doc_id", "w").agg(count(lit(1)).as("tf_all"))
      .groupBy("doc_id").agg(max($"tf_all").as("tf_max"))
    val bad = out.filter($"rank" === 1).join(tfAll, "doc_id")
      .filter($"tf" =!= $"tf_max").count()
    assert(bad == 0)
    out.unpersist()
  }

  test("readability: covers all docs, syllables >= words, flesch formula holds") {
    import spark.implicits._
    val out = q("q_readability")
    assert(out.count() == nDocs)
    // every word contributes >= 1 syllable (the floor), and a sentence
    // needs at least one word
    val bad = out.filter($"n_syllables" < $"n_words" ||
      $"n_sentences" < 1 || $"n_words" < 1).count()
    assert(bad == 0)
    // the emitted score is the formula over the emitted counts
    val mism = out.filter(
      abs($"flesch" - (lit(206.835)
        - lit(1.015) * ($"n_words".cast("double") / $"n_sentences")
        - lit(84.6) * ($"n_syllables".cast("double") / $"n_words"))) > 1e-5)
      .count()
    assert(mism == 0)
  }

  test("lang id: confusion matrix counts every classified doc exactly once") {
    import spark.implicits._
    val total = q("q_lang_id").agg(sum($"n_docs")).as[Long].head()
    assert(total <= nDocs && total > 0)
  }

  test("token count: bpe tokenization is at least as fine as whitespace") {
    import spark.implicits._
    val out = q("q_token_count")
    assert(out.filter($"bpe_tokens" < $"ws_tokens" || $"bpe_per_ws" < 1.0).count() == 0)
    assert(out.agg(sum($"n_docs")).as[Long].head() == nDocs)
  }

  test("embed near-dup pairs: ordered, thresholded, within [-1,1]") {
    import spark.implicits._
    val out = q("q_dedup_embed")
    assert(out.filter($"vec_id_1" >= $"vec_id_2").count() == 0)
    assert(out.filter($"cosine" < 0.4 || $"cosine" > 1.0).count() == 0)
  }

  test("lm score: rare-token docs score higher surprisal; uniform corpus matches closed form") {
    import spark.implicits._
    // 9 docs of common tokens + 1 doc with singletons: the outlier must
    // carry the max surprisal
    val docs = ((1L to 9L).map(i => (i, "en", "aa bb cc aa bb cc")) :+
      (10L, "en", "zz qq ww")).toDF("doc_id", "lang", "text")
    val out = operators.AdvancedTextQueries.lmScoreFrom(docs).collect()
    val byDoc = out.map(r => r.getLong(0) -> r.getDouble(3)).toMap
    assert(byDoc(10L) == byDoc.values.max)
    assert(byDoc(1L) == byDoc(9L))
    // uniform corpus: every token appears n times out of N total →
    // every doc's avg surprisal is exactly round(ln(N/n)·1e6)/1e6
    val uni = Seq((1L, "en", "x y"), (2L, "en", "y x")).toDF("doc_id", "lang", "text")
    val got = operators.AdvancedTextQueries.lmScoreFrom(uni).collect()
    val expect = math.round(-math.log(2.0 / 4.0) * 1000000.0) / 1000000.0
    got.foreach(r => assert(math.abs(r.getDouble(3) - expect) < 1e-9))
    // token accounting: n_tokens equals the tokenizer's count
    assert(got.forall(_.getLong(2) == 2L))
  }

  test("round6 rounds a halfway micro-sum the way the oracle's round(x, 6) does") {
    // 8202803 micro-nats over 2 tokens is 4101401.5 exactly; the double
    // quotient x prints 4.1014015, which Spark's round(x, 6) takes up to
    // 4.101402, while x·1e6 = 4101401.4999999995 rounds down to the
    // oracle's 4.101401
    val x = lit(8202803.0) / 2 / 1e6
    val r = spark.range(1).select(operators.round6(x), round(x, 6)).head()
    assert(r.getDouble(0) == 4.101401)
    assert(r.getDouble(1) == 4.101402)
  }

  test("substring fingerprints: copied runs pair, disjoint text does not") {
    import spark.implicits._
    val run = "the quick brown fox jumps over the lazy dog again and again"
    // boundary chars around the run differ per doc (_ vs : and ;) so
    // no boundary-spanning gram matches — shared is EXACTLY the run's
    // k-gram set
    val docs = Seq(
      (1L, s"PREFIX-A_${run}_SUFFIX-A"),
      (2L, s"totally different lead-in:$run;and a different tail"),
      (3L, "no overlap whatsoever with anything else in this corpus zz"))
      .toDF("doc_id", "text")
    // modP=1 selects every k-gram: docs 1,2 share the full run of
    // len(run)-k+1 grams; doc 3 shares none
    val out = operators.AdvancedTextQueries
      .substringFingerprintPairs(docs, k = 24, modP = 1, dfCap = 200,
        minShared = 2)
      .collect()
    assert(out.map(r => (r.getLong(0), r.getLong(1))).toSeq == Seq((1L, 2L)))
    assert(out.head.getLong(2) == (run.length - 24 + 1).toLong)
    // df cap: a fingerprint present in ALL docs is boilerplate and
    // must not pair anyone once df exceeds the cap
    val boiler = (1L to 5L).map(i => (i, s"shared boilerplate header line $i"))
      .toDF("doc_id", "text")
    val capped = operators.AdvancedTextQueries
      .substringFingerprintPairs(boiler, k = 24, modP = 1, dfCap = 4,
        minShared = 1)
    assert(capped.count() == 0)
    // corpus smoke at test SF: ordered pairs, shared >= 2
    val corpus = q("q_dedup_substring")
    assert(corpus.filter($"doc_id_1" >= $"doc_id_2").count() == 0)
    assert(corpus.filter($"shared" < 2).count() == 0)
  }

  test("bpe pairs: matches a local recompute on a toy vocab; corpus invariants") {
    import spark.implicits._
    // toy: "abab" x2 + "ab" x1 -> ab: 2*2+1=5 occurrences in 2 words,
    // ba: 2 in 1 word, computed through the same plan shape
    val toy = Seq((1L, "abab abab ab")).toDF("doc_id", "text")
    val vocab = toy.select(explode(operators.TextQueries.tokens($"text")).as("word"))
      .groupBy("word").agg(count(lit(1)).as("cnt"))
    val got = vocab.filter(length($"word") >= 2)
      .select($"word", $"cnt",
        explode(sequence(lit(1), length($"word") - 1)).as("i"))
      .select($"word".substr($"i", lit(2)).as("pair"), $"word", $"cnt")
      .groupBy("pair")
      .agg(sum($"cnt").as("pair_count"), countDistinct($"word").as("n_words"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    assert(got == Set(("ab", 5L, 2L), ("ba", 2L, 1L)))
    // corpus: 20 rows, every pair is 2 chars, counts consistent
    val out = q("q_bpe_pairs").collect()
    assert(out.length == 20)
    assert(out.forall(_.getAs[String]("pair").length == 2))
    assert(out.forall(r =>
      r.getAs[Long]("pair_count") >= r.getAs[Long]("n_words") &&
        r.getAs[Long]("n_words") >= 1))
    // descending by count with pair tiebreak
    val counts = out.map(_.getAs[Long]("pair_count"))
    assert(counts.zip(counts.tail).forall { case (a, b) => a >= b })
  }

  test("bpe merges: toy corpus follows the hand-computed merge table") {
    import spark.implicits._
    // vocab: the x3, cat x1. Round 1 pairs: th 3, he 3, ca 1, at 1 —
    // tie at 3 broken by left_sym ('h' < 't') → merge (h,e). Round 2
    // re-pairs over MERGED symbols: (t,he) 3 wins → 'the'. Round 3:
    // only cat remains: (a,t) 1 beats (c,a) 1 on left_sym → 'at'.
    // Round 4: (c,at) → 'cat'. Rounds 5-6: no pairs left — the loop
    // must stop emitting, not fail.
    val toy = Seq((1L, "the the the cat")).toDF("doc_id", "text")
    val got = operators.AdvancedTextQueries.bpeMergesFrom(spark, toy, 6)
      .collect()
      .map(r => (r.getInt(0), r.getString(1), r.getString(2),
        r.getString(3), r.getLong(4)))
    assert(got.toSeq == Seq(
      (1, "h", "e", "he", 3L),
      (2, "t", "he", "the", 3L),
      (3, "a", "t", "at", 1L),
      (4, "c", "at", "cat", 1L)))
    // doubled-symbol run: two-pass boundary replace is deterministic
    // ("aaaa" → (aa)(aa), so round 2's best pair is (aa,aa))
    val runs = Seq((1L, "aaaa")).toDF("doc_id", "text")
    val gotRuns = operators.AdvancedTextQueries.bpeMergesFrom(spark, runs, 2)
      .collect().map(r => (r.getInt(0), r.getString(3), r.getLong(4)))
    assert(gotRuns.toSeq == Seq((1, "aa", 3L), (2, "aaaa", 1L)))
    // corpus: exactly BpeMergeRounds rows, steps 1..k, counts positive
    // and non-increasing is NOT required (BPE counts may rise as merged
    // symbols create new pairs), but every merged symbol is distinct
    val out = q("q_bpe_merges").collect()
    assert(out.length == operators.AdvancedTextQueries.BpeMergeRounds)
    assert(out.map(_.getAs[Int]("step")).toSeq ==
      (1 to operators.AdvancedTextQueries.BpeMergeRounds))
    assert(out.map(_.getAs[String]("merged")).distinct.length == out.length)
    assert(out.forall(_.getAs[Long]("pair_count") > 0))
  }

  test("bpe encode: toy corpus collapses trained words; corpus bounds hold") {
    import spark.implicits._
    // same toy as the merge test — merges (h,e)(t,he)(a,t)(c,at) fully
    // collapse both words, so every word encodes to ONE symbol
    val toy = Seq((1L, "en", "the the the cat")).toDF("doc_id", "lang", "text")
    val got = operators.AdvancedTextQueries.bpeEncodeFrom(spark, toy).collect()
    assert(got.length == 1)
    val r = got(0)
    assert(r.getAs[Long]("n_words") == 4L)
    assert(r.getAs[Long]("n_chars") == 12L)
    assert(r.getAs[Long]("n_bpe_tokens") == 4L)
    assert(r.getAs[Double]("bpe_per_word") == 1.0)
    // corpus: every word is at least one symbol and merges only shrink,
    // so n_words <= n_bpe_tokens <= n_chars in every document
    val out = q("q_bpe_encode")
    assert(out.filter($"n_bpe_tokens" < $"n_words" ||
      $"n_bpe_tokens" > $"n_chars").count() == 0)
    assert(out.count() > 0)
  }

  test("unicode tokenizer keeps non-Latin scripts whole; ascii form shreds them") {
    import spark.implicits._
    val df = Seq("Spark 4.1 merges données and Ωmega tables; 世界 too").toDF("text")
    val got = df.select(operators.TextQueries.tokensUnicode($"text").as("t"))
      .as[Seq[String]].head()
    assert(got == Seq("spark", "merges", "données", "and", "ωmega", "tables",
      "世界", "too"))
    val ascii = df.select(operators.TextQueries.tokens($"text").as("t"))
      .as[Seq[String]].head()
    assert(ascii.contains("donn") && !ascii.contains("données"))
  }

  test("source overlap: jaccard algebra consistent; toy pair exact") {
    import spark.implicits._
    val out = q("q_source_overlap").cache()
    assert(out.count() > 0)
    // jaccard = n_common / n_union (re-derived), bounds hold, pairs ordered
    assert(out.filter($"n_common" < 1 || $"n_union" < $"n_common").count() == 0)
    assert(out.filter($"source_1" >= $"source_2").count() == 0)
    assert(out.filter(
      abs($"jaccard" - round($"n_common".cast("double") / $"n_union", 6)) >
        lit(1e-9)).count() == 0)
    out.unpersist()
    // toy: A = {a b c, b c d}, B = {b c d, c d e} -> common 1, union 3
    val toy = Seq(
      (1L, "A", "a b c d"), (2L, "B", "b c d e")).toDF("doc_id", "source", "text")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("doc_id").orderBy("pos")
    val sh = toy.select($"source", $"doc_id",
        posexplode(operators.TextQueries.tokens($"text")).as(Seq("pos", "t")))
      .withColumn("t1", lead($"t", 1).over(w))
      .withColumn("t2", lead($"t", 2).over(w))
      .filter($"t2".isNotNull)
      .select($"source", concat_ws(" ", $"t", $"t1", $"t2").as("sh"))
      .distinct()
    val common = sh.as("a").join(sh.as("b"),
        $"a.sh" === $"b.sh" && $"a.source" < $"b.source").count()
    assert(common == 1)
  }

  test("q_length_buckets: bucket bounds hold and docs are conserved") {
    import org.apache.spark.sql.functions.{col, size => fsize}
    val out = q("q_length_buckets").collect()
    assert(out.nonEmpty)
    out.foreach { r =>
      val (b, lo) = (r.getAs[Long]("bucket"), r.getAs[Long]("bucket_lo"))
      assert(lo == (1L << b))
      assert(r.getAs[Long]("min_tokens") >= lo)
      assert(r.getAs[Long]("max_tokens") < 2 * lo)
      assert(r.getAs[Long]("total_tokens") >= r.getAs[Long]("n_docs") * lo)
    }
    val nonEmptyDocs = Tables.documents(spark, sfDir)
      .filter(fsize(operators.TextQueries.tokens(col("text"))) > 0).count()
    assert(out.map(_.getAs[Long]("n_docs")).sum == nonEmptyDocs)
  }

  test("q_dup_by_source: totals reconcile with the cluster table") {
    import org.apache.spark.sql.functions.col
    val out = q("q_dup_by_source").collect()
    assert(out.map(_.getAs[Long]("n_docs")).sum ==
      Tables.documents(spark, sfDir).count())
    assert(out.map(_.getAs[Long]("n_dup")).sum ==
      operators.AdvancedTextQueries.qDedupClusters(spark, sfDir).count())
    out.foreach { r =>
      assert(r.getAs[Long]("n_dup") <= r.getAs[Long]("n_docs"))
      val f = r.getAs[Double]("dup_frac")
      assert(f >= 0.0 && f <= 1.0)
      if (r.getAs[Long]("n_dup") == 0) assert(r.getAs[Long]("n_clusters") == 0)
    }
  }

  test("q_interarrival: ordered quantiles and gap conservation per type") {
    import org.apache.spark.sql.functions.col
    val out = SparkEntry.queries("q_interarrival")(spark, sfDir).collect()
    val perType = Tables.events(spark, sfDir)
      .groupBy("event_type").count().collect()
      .map(r => r.getAs[String]("event_type") -> r.getAs[Long]("count")).toMap
    out.foreach { r =>
      assert(r.getAs[Long]("n_gaps") ==
        perType(r.getAs[String]("event_type")) - 1)
      val (m, p90) = (r.getAs[Double]("median_gap_s"), r.getAs[Double]("p90_gap_s"))
      assert(m >= 0.0 && p90 >= m)
      assert(r.getAs[Double]("mean_gap_s") >= 0.0)
    }
  }

  test("q_char_classes: classes partition every character") {
    val out = q("q_char_classes").collect()
    assert(out.nonEmpty)
    out.foreach { r =>
      val total = r.getAs[Long]("total_chars")
      assert(r.getAs[Long]("letters") + r.getAs[Long]("digits") +
        r.getAs[Long]("spaces") + r.getAs[Long]("other") == total)
      val ls = r.getAs[Double]("letter_share")
      assert(ls > 0.0 && ls <= 1.0)
    }
    assert(out.map(_.getAs[Long]("n_docs")).sum ==
      Tables.documents(spark, sfDir).count())
  }

  test("minhash calibration: exact bounds per pair; 16-hash estimate is near-unbiased") {
    val out = q("q_minhash_calibration").collect()
    assert(out.nonEmpty)
    out.foreach { r =>
      assert(r.getAs[Long]("doc_id_1") < r.getAs[Long]("doc_id_2"))
      val agree = r.getAs[Long]("agree")
      assert(agree >= 0 && agree <= 16)
      assert(r.getAs[Long]("shared") <=
        math.min(r.getAs[Long]("n1"), r.getAs[Long]("n2")))
      val est = r.getAs[Double]("est_sim")
      val truth = r.getAs[Double]("true_jaccard")
      assert(est >= 0 && est <= 1 && truth >= 0 && truth <= 1)
      assert(math.abs(r.getAs[Double]("abs_err") - math.abs(est - truth)) < 2e-6)
    }
    // E[agree/H] = J per pair; averaged over all pairs the signed gap
    // must be small (variance J(1-J)/16 per pair, n pairs to average)
    val bias = out.map(r =>
      r.getAs[Double]("est_sim") - r.getAs[Double]("true_jaccard")).sum / out.length
    assert(math.abs(bias) < 0.1, s"minhash estimator bias $bias")
  }

  test("dedup survivorship: sources partition the corpus; kept totals match keep-best") {
    val out = q("q_dedup_survivorship").collect()
    assert(out.map(_.getAs[Long]("n_docs")).sum == nDocs)
    val totalKept = out.map(_.getAs[Long]("n_kept")).sum
    assert(totalKept == q("q_dedup_keep_best").count(),
      "per-source kept totals must equal the keep-best survivor count")
    out.foreach { r =>
      assert(r.getAs[Long]("n_kept") >= 1 &&
        r.getAs[Long]("n_kept") <= r.getAs[Long]("n_docs"))
      val rate = r.getAs[Double]("kept_rate")
      assert(rate > 0 && rate <= 1)
    }
  }

  test("decontaminate ladder: flag rate monotone in n; n=3 row matches q_decontaminate") {
    val out = q("q_decontaminate_ladder").collect().sortBy(_.getAs[Int]("n"))
    assert(out.map(_.getAs[Int]("n")).toSeq == Seq(3, 5, 8))
    // an 8-gram match implies every inner 3-gram also matches, so the
    // flagged set can only shrink as n grows
    val flags = out.map(_.getAs[Long]("n_contaminated")).toSeq
    assert(flags.zip(flags.tail).forall { case (a, b) => a >= b },
      s"flag counts $flags not monotone")
    // cross-check n=3 against the production decontaminate query
    val clean = q("q_decontaminate").collect()
      .map(_.getAs[Long]("clean_docs")).sum
    assert(out.head.getAs[Long]("n_docs") - flags.head == clean,
      "ladder n=3 disagrees with q_decontaminate's clean count")
  }

  test("chao1: estimator dominates observed vocabulary; unseen mass bounded") {
    val r = q("q_chao1").collect().head
    val (d, f1, f2) = (r.getAs[Long]("vocab_size"),
      r.getAs[Long]("f1"), r.getAs[Long]("f2"))
    assert(f1 >= 0 && f2 >= 0 && f1 + f2 <= d)
    // Chao1 is observed richness plus a non-negative correction
    assert(r.getAs[Double]("chao1") >= d.toDouble - 1e-6)
    assert(math.abs(r.getAs[Double]("chao1") -
      (d + f1.toDouble * (f1 - 1) / (2.0 * (f2 + 1)))) < 1e-4)
    val p0 = r.getAs[Double]("unseen_mass")
    assert(p0 >= 0 && p0 <= 1)
    // cross-check against the lexical-richness panel's corpus totals
    val lex = q("q_lexical_richness").collect()
    assert(r.getAs[Long]("n_tokens") ==
      lex.map(_.getAs[Long]("n_tokens")).sum)
  }

  test("token length dist: conserves the corpus token count; cum reaches 1") {
    val rows = q("q_token_len_dist").collect()
    val lex = q("q_lexical_richness").collect()
    assert(rows.map(_.getAs[Long]("n_tokens")).sum ==
      lex.map(_.getAs[Long]("n_tokens")).sum)
    val lens = rows.map(_.getAs[Int]("token_len"))
    assert(lens.zip(lens.tail).forall { case (a, b) => a > b })
    assert(lens.forall(_ >= 1))
    val cums = rows.map(_.getAs[Double]("cum_share_longest"))
    assert(cums.zip(cums.tail).forall { case (a, b) => a <= b + 1e-9 })
    assert(math.abs(cums.last - 1.0) < 1e-6)
  }

  test("dedup sweep: monotone in threshold; 0.5 row matches q_ngram_jaccard") {
    val rows = q("q_dedup_sweep").collect().sortBy(_.getAs[Double]("threshold"))
    assert(rows.map(_.getAs[Double]("threshold")).toSeq == Seq(0.5, 0.7, 0.9))
    val ps = rows.map(_.getAs[Long]("n_pairs"))
    val ds = rows.map(_.getAs[Long]("n_docs_flagged"))
    assert(ps.zip(ps.tail).forall { case (a, b) => a >= b }, s"pairs $ps")
    assert(ds.zip(ds.tail).forall { case (a, b) => a >= b }, s"docs $ds")
    rows.foreach(r => assert(r.getAs[Long]("n_docs_flagged") <=
      r.getAs[Long]("n_pairs") || r.getAs[Long]("n_pairs") == 0))
    // the 0.5 cut IS q_ngram_jaccard's pair set
    assert(ps.head == q("q_ngram_jaccard").count(),
      "sweep 0.5 row disagrees with the production pair query")
  }

  test("bigram coverage: monotone curve off a conserved bigram stream") {
    val rows = q("q_bigram_coverage").collect().sortBy(_.getAs[Int]("rank"))
    assert(rows.map(_.getAs[Int]("rank")).toSeq == Seq(10, 25, 50, 100))
    val covs = rows.map(_.getAs[Double]("coverage"))
    assert(covs.zip(covs.tail).forall { case (a, b) => a <= b + 1e-9 })
    assert(covs.forall(c => c > 0 && c <= 1.0))
    val cums = rows.map(_.getAs[Long]("cum_count"))
    assert(cums.zip(cums.tail).forall { case (a, b) => a <= b })
    // total equals the exact bigram stream size: Σ_docs max(len-1, 0)
    import org.apache.spark.sql.functions._
    val expected = Tables.documents(spark, sfDir)
      .select(greatest(size(graft.operators.TextQueries.tokens(col("text")))
        - 1, lit(0)).as("b"))
      .agg(sum(col("b"))).collect().head.getLong(0)
    assert(rows.head.getAs[Long]("total_bigrams") == expected)
  }

  test("corpus summary: reconciles with chao1 and the exact-dedup table") {
    val r = SparkEntry.queries("q_corpus_summary")(spark, sfDir)
      .collect().head
    val chao = SparkEntry.queries("q_chao1")(spark, sfDir).collect().head
    assert(r.getAs[Long]("n_tokens") == chao.getAs[Long]("n_tokens"))
    assert(r.getAs[Long]("vocab_size") == chao.getAs[Long]("vocab_size"))
    assert(r.getAs[Long]("n_docs") ==
      Tables.documents(spark, sfDir).count())
    val distinctTexts = q("q_dedup_exact").count() // one row per distinct text
    assert(math.abs(r.getAs[Double]("exact_dup_rate") -
      (1.0 - distinctTexts.toDouble / r.getAs[Long]("n_docs"))) < 1e-5)
    assert(r.getAs[Double]("hapax_vocab_share") >= 0 &&
      r.getAs[Double]("hapax_vocab_share") <= 1)
  }

  test("char entropy: bounded by ln(alphabet); bits consistent with nats") {
    val rows = q("q_char_entropy").collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val h = r.getAs[Double]("entropy_nats")
      val k = r.getAs[Long]("n_distinct_chars")
      assert(h >= 0 && h <= math.log(k.toDouble) + 1e-4,
        s"entropy $h exceeds ln($k)")
      assert(math.abs(r.getAs[Double]("bits_per_char") - h / math.log(2.0))
        < 1e-4)
      assert(r.getAs[Long]("n_chars") >= k)
    }
  }
}
