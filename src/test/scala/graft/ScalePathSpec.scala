package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.multimodal.Multimodal
import graft.operators.{LshKnn, MinHashLsh, QuantizedKnn, SimilarityQueries}

/** The non-oracle scale-path operators: banded MinHash-LSH, LSH ANN, and
  * the multimodal binary-column plumbing.
  */
class ScalePathSpec extends AnyFunSuite {
  import SparkTestSession.{spark, sfDir}

  test("minhash-lsh: verified pairs have exact jaccard >= threshold (perfect precision)") {
    import spark.implicits._
    val pairs = MinHashLsh.nearDupPairs(spark, sfDir, 0.7)
    assert(pairs.filter($"jaccard" < 0.7).count() == 0)
  }

  test("minhash-lsh: identical token sets are always candidates (recall 1 at J=1)") {
    import spark.implicits._
    // ground truth: doc pairs with identical token-set signature
    val sig = Tables.documents(spark, sfDir)
      .select($"doc_id",
        array_join(sort_array(array_distinct(
          operators.TextQueries.tokens($"text"))), " ").as("s"))
    val truth = sig.as("a").join(sig.as("b"),
        col("a.s") === col("b.s") && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("d1"), col("b.doc_id").as("d2"))
    val found = MinHashLsh.candidatePairs(Tables.documents(spark, sfDir))
      .select($"doc_id_1".as("d1"), $"doc_id_2".as("d2"))
    assert(truth.exceptAll(truth.intersect(found)).count() == 0,
      "a J=1 pair was missed by LSH banding")
  }

  test("lsh knn: deterministic, bucketed, nonzero recall vs brute force") {
    import spark.implicits._
    val approx = LshKnn.approxTopK(spark, sfDir, 5)
    val exact = SparkEntry.queries("q_sim_topk")(spark, sfDir)
    val a = approx.select("probe_id", "vec_id")
    val e = exact.select("probe_id", "vec_id")
    val hits = a.intersect(e).count()
    assert(hits > 0, "LSH found none of the true top-5 neighbors")
    // determinism: same plan, same result
    val again = LshKnn.approxTopK(spark, sfDir, 5).select("probe_id", "vec_id")
    assert(a.exceptAll(again).count() == 0 && again.exceptAll(a).count() == 0)
  }

  test("lsh multi-probe: recall never below single-bucket and improves here") {
    import spark.implicits._
    val exact = SparkEntry.queries("q_sim_topk")(spark, sfDir)
      .select("probe_id", "vec_id")
    val nExact = exact.count()
    val single = LshKnn.approxTopK(spark, sfDir, 5).select("probe_id", "vec_id")
    val multi = LshKnn.approxTopKMultiProbe(spark, sfDir, 5, nFlip = 2)
      .select("probe_id", "vec_id")
    val rSingle = single.intersect(exact).count().toDouble / nExact
    val rMulti = multi.intersect(exact).count().toDouble / nExact
    // candidate supersets can only help: any true neighbor the single
    // bucket finds is still top-5 when more candidates are scored
    assert(rMulti >= rSingle, s"multi-probe recall $rMulti < single $rSingle")
    assert(rMulti > rSingle,
      s"flipping 2 low-margin bits should find extra neighbors at NumPlanes=4 (single=$rSingle multi=$rMulti)")
    // structural: each probe fans out to exactly nFlip+1 distinct buckets
    val emb = Tables.embeddings(spark, sfDir)
      .select($"vec_id", operators.SimilarityQueries.asDoubles($"embedding").as("vec"))
      .filter($"vec_id" % 100 === 0)
    val fanout = emb.select($"vec_id",
        explode(LshKnn.probeBuckets($"vec", 2)).as("bucket"))
      .groupBy("vec_id").agg(countDistinct($"bucket").as("nb"))
    assert(fanout.filter($"nb" =!= 3).count() == 0)
  }

  test("ann probe side is never plan-forced broadcast (scale-killer guard)") {
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, BroadcastQueryStageExec}
    import org.apache.spark.sql.execution.exchange.BroadcastExchangeExec
    import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
    def flatten(plan: SparkPlan): Seq[SparkPlan] = plan match {
      case a: AdaptiveSparkPlanExec => flatten(a.executedPlan)
      case p => p +: p.children.flatMap(flatten)
    }
    def broadcasts(nodes: Seq[SparkPlan]): Seq[SparkPlan] = nodes.filter {
      case _: BroadcastExchangeExec | _: BroadcastQueryStageExec => true
      case _ => false
    }
    // The probe set is corpus/probeModulus rows — it GROWS with the
    // data, so it must never be broadcast by the PLAN. With the
    // size-based auto-broadcast disabled, any BroadcastExchange left is
    // a plan-forced one (a hint), which is exactly the regression this
    // guards against. At default conf AQE may still broadcast the small
    // test-scale probe side at runtime — that is a size decision, fine.
    val conf = "spark.sql.autoBroadcastJoinThreshold"
    val prev = spark.conf.get(conf)
    spark.conf.set(conf, "-1")
    try {
      val emb = Tables.embeddings(spark, sfDir)
        .select(col("vec_id"),
          operators.SimilarityQueries.asDoubles(col("embedding")).as("vec"))
      val lsh = LshKnn.approxTopKFrom(emb, 5, 1)
      lsh.collect() // collect() executes this Dataset's own QueryExecution (AQE-adapted)
      val lshB = broadcasts(flatten(lsh.queryExecution.executedPlan))
      assert(lshB.isEmpty,
        s"LshKnn plan forces a broadcast: ${lshB.map(_.nodeName)}")
      val (indexed, centroids) = operators.IvfKnn.buildIndexFrom(emb)
      val ivf = operators.IvfKnn.approxTopKFrom(indexed, centroids, 5)
      ivf.collect()
      val ivfNodes = flatten(ivf.queryExecution.executedPlan)
      assert(!ivfNodes.exists(_.isInstanceOf[BroadcastHashJoinExec]),
        "IvfKnn probe-cell equi-join must not be a forced broadcast join")
      // exactly one broadcast remains: the nLists-row centroid table
      // (corpus-size-independent), feeding the probe×centroid cross join
      assert(broadcasts(ivfNodes).size <= 1,
        s"IvfKnn has unexpected broadcasts: ${broadcasts(ivfNodes).map(_.nodeName)}")
    } finally spark.conf.set(conf, prev)
  }

  test("ivf knn: better-or-equal recall than single-bucket lsh, deterministic") {
    import spark.implicits._
    val exact = SparkEntry.queries("q_sim_topk")(spark, sfDir)
      .select("probe_id", "vec_id")
    val ivf = operators.IvfKnn.approxTopK(spark, sfDir, 5)
      .select("probe_id", "vec_id")
    val recall = ivf.intersect(exact).count().toDouble / exact.count()
    assert(recall > 0.2, s"IVF recall too low: $recall")
    val again = operators.IvfKnn.approxTopK(spark, sfDir, 5)
      .select("probe_id", "vec_id")
    assert(ivf.exceptAll(again).count() == 0 && again.exceptAll(ivf).count() == 0)
    // layout independence: one partition and a 7-way hash layout give
    // the same centroids and the same cell per vector
    val emb = Tables.embeddings(spark, sfDir)
      .select(col("vec_id"),
        SimilarityQueries.asDoubles(col("embedding")).as("vec"))
    def index(layout: org.apache.spark.sql.DataFrame) = {
      val (indexed, centroids) = operators.IvfKnn.buildIndexFrom(layout)
      (centroids.collect().map(r => (r.getInt(0), r.getSeq[Double](1))).toSet,
        indexed.select("vec_id", "cell").collect().toSet)
    }
    val (c1, cells1) = index(emb.coalesce(1))
    val (c7, cells7) = index(emb.repartition(7, col("vec_id")))
    val (sameCentroids, sameCells) = (c1 == c7, cells1 == cells7)
    assert(c1.nonEmpty && sameCentroids, "centroid tables differ across input layouts")
    assert(sameCells, "cell assignments differ across input layouts")
  }

  test("jittered-replica regime: IVF and multi-probe LSH recall gates") {
    // The base fixture's neighbor structure is weak (top-5 cosines sit
    // barely above the bulk, so ANY bucketed index scores low on it);
    // the MEANINGFUL regime is the jittered-replica corpus where every
    // vector has true near-neighbors, the shape a near-dup corpus
    // actually has. This spec ASSERTS recall there, so a recall
    // regression fails `sbt test` instead of drifting in a doc. Same
    // Replicas recipe as SynthScale: 16 replicas, deterministic ±0.05
    // per-element jitter.
    val embBase = Tables.embeddings(spark, sfDir)
      .select(col("vec_id"),
        SimilarityQueries.asDoubles(col("embedding")).as("vec"))
    val corpus = Replicas.union(16) { i =>
      val jittered =
        if (i == 0) col("vec")
        else transform(col("vec"), (x, j) =>
          x + Replicas.jitterDelta(col("vec_id"), i, j)
            .cast("double") / 20000.0)
      embBase.select(Replicas.shift(col("vec_id"), i, 100000000L).as("vec_id"),
        jittered.as("vec"))
    }.localCheckpoint(true)
    val mod = 125 // 4 probe ids per 500-id replica x 16 replicas = 64 probes
    val exact = SimilarityQueries.blockedTopKFrom(corpus, 5, mod)
      .select("probe_id", "vec_id").localCheckpoint(true)
    val nExact = exact.count().toDouble
    assert(nExact >= 300, s"fixture must yield a real probe set, got $nExact")
    val lsh = LshKnn.approxTopKFrom(corpus, 5, 1, mod)
      .select("probe_id", "vec_id")
    val rLsh = lsh.intersect(exact).count() / nExact
    assert(rLsh >= 0.6,
      s"multi-probe LSH (nFlip=1) recall@5 regressed in the jittered regime: $rLsh < 0.6")
    val (indexed, centroids) = operators.IvfKnn.buildIndexFrom(corpus)
    val ivf = operators.IvfKnn
      .approxTopKFrom(indexed.localCheckpoint(true), centroids, 5, 4, mod)
      .select("probe_id", "vec_id")
    val rIvf = ivf.intersect(exact).count() / nExact
    assert(rIvf >= 0.6,
      s"IVF (nProbe=4) recall@5 regressed in the jittered regime: $rIvf < 0.6")
  }

  test("ivf knn: recall rises with nProbe; nProbe = nLists is the exact top-k") {
    // The jittered gate above cannot see the probe count: a jittered
    // vector's neighbors are its own replicas, which share its cell. On
    // the base corpus the neighbors spread over cells, so a probe count
    // that is ignored, or a default of one cell, loses recall here.
    val emb = Tables.embeddings(spark, sfDir)
      .select(col("vec_id"),
        SimilarityQueries.asDoubles(col("embedding")).as("vec"))
    val mod = 10
    val exact = SimilarityQueries.blockedTopKFrom(emb, 5, mod)
      .select("probe_id", "vec_id").localCheckpoint(true)
    val nExact = exact.count().toDouble
    val (indexed, centroids) = operators.IvfKnn.buildIndexFrom(emb)
    val cells = indexed.localCheckpoint(true)
    def recall(nProbe: Int): Double =
      operators.IvfKnn.approxTopKFrom(cells, centroids, 5, nProbe, mod)
        .select("probe_id", "vec_id").intersect(exact).count() / nExact
    val r1 = recall(1)
    val rDefault = recall(operators.IvfKnn.NProbe)
    // every cell scanned: the same cosines and tie-break as brute force
    assert(recall(operators.IvfKnn.NLists) == 1.0)
    assert(r1 < rDefault,
      s"default nProbe=${operators.IvfKnn.NProbe} recall $rDefault is not above one cell's $r1")
  }

  test("multimodal: batched decode is deterministic and preserves rows + partitioning") {
    val media = Multimodal.syntheticMedia(spark, 200, partitions = 4)
    val feats = Multimodal.extractFeatures(media)
    assert(feats.count() == 200)
    assert(feats.rdd.getNumPartitions == media.rdd.getNumPartitions,
      "decode must be a narrow transformation")
    val f1 = feats.collect().map(f => (f.media_id, f.features.toSeq)).toMap
    val f2 = Multimodal.extractFeatures(Multimodal.syntheticMedia(spark, 200, 4))
      .collect().map(f => (f.media_id, f.features.toSeq)).toMap
    assert(f1 == f2)
    assert(f1.values.forall(_.size == Multimodal.StubDecoder.featureDim))
  }

  test("multimodal: composed near-dup pipeline is deterministic and covers all media") {
    import spark.implicits._
    val media = Multimodal.syntheticMedia(spark, 300, partitions = 4)
    val groups = Multimodal.nearDupMedia(media)
    assert(groups.agg(sum($"group_size")).as[Long].head() == 300,
      "every media item must land in exactly one (kind, bucket) group")
    assert(groups.select("kind").distinct().count() == 3)
    val again = Multimodal.nearDupMedia(Multimodal.syntheticMedia(spark, 300, 4))
    assert(groups.exceptAll(again).count() == 0 && again.exceptAll(groups).count() == 0)
  }

  test("multimodal: real files flow binaryCorpus → records → features") {
    import spark.implicits._
    val gutenberg = "/root/reference/main/pg-*.txt"
    assume(java.nio.file.Files.exists(
      java.nio.file.Paths.get("/root/reference/main/pg-being_ernest.txt")))
    val records = Multimodal.fromBinary(
      graft.sources.Sources.binaryCorpus(spark, gutenberg))
    assert(records.count() == 8)
    val feats = Multimodal.extractFeatures(records)
    assert(feats.count() == 8)
    assert(feats.collect().forall(f =>
      f.features.length == Multimodal.StubDecoder.featureDim && f.n_bytes > 100000))
    // media ids are stable across listings
    val again = Multimodal.fromBinary(
      graft.sources.Sources.binaryCorpus(spark, gutenberg))
      .select("media_id").as[Long].collect().toSet
    assert(records.select("media_id").as[Long].collect().toSet == again)
  }

  test("imageio: genuine PNGs decode to luminance features; identical images bucket together") {
    import spark.implicits._
    import java.awt.image.BufferedImage
    def png(seed: Int): Array[Byte] = {
      val img = new BufferedImage(32, 32, BufferedImage.TYPE_INT_RGB)
      val rng = new scala.util.Random(seed)
      for (y <- 0 until 32; x <- 0 until 32) img.setRGB(x, y, rng.nextInt(0xffffff))
      val bos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "png", bos)
      bos.toByteArray
    }
    val ds = Seq(
      Multimodal.MediaRecord(1, "image", png(1), 32, 32, 0),
      Multimodal.MediaRecord(2, "image", png(1), 32, 32, 0), // identical twin
      Multimodal.MediaRecord(3, "image", png(2), 32, 32, 0),
      Multimodal.MediaRecord(4, "image", Array[Byte](1, 2, 3), 0, 0, 0), // truncated
      Multimodal.MediaRecord(5, "audio", Array.fill(64)(7.toByte), 0, 0, 1000)
    ).toDS()
    val f = Multimodal.extractFeatures(ds, Multimodal.JdkMediaDecoder)
      .collect().map(r => r.media_id -> r.features.toSeq).toMap
    // real decode: 4x4 mean-luminance grid, every cell in [0,1]
    assert(f(1).forall(v => v >= 0f && v <= 1f))
    assert(f(1) == f(2), "byte-identical images must decode identically")
    assert(f(1) != f(3), "different images must decode differently")
    // graceful degradation: truncated image and audio fall back to the stub
    assert(f(4) == Multimodal.StubDecoder.decode("image", Array[Byte](1, 2, 3)).toSeq)
    assert(f(5) == Multimodal.StubDecoder.decode("audio", Array.fill(64)(7.toByte)).toSeq)
    // end-to-end: the twins land in one (image, bucket) group, canonical = min id
    val groups = Multimodal.nearDupMedia(ds, Multimodal.JdkMediaDecoder)
      .filter($"kind" === "image" && $"canonical_media_id" === 1L)
    assert(groups.as[(String, Int, Long, Long)].collect()
      .exists(_._4 >= 2), "identical images must share an LSH bucket")
  }

  test("imageio: encoded files round-trip binaryCorpus → fromBinary → real decode") {
    val dir = java.nio.file.Files.createTempDirectory("graft-img")
    def writePng(name: String, shade: Int): Unit = {
      val img = new java.awt.image.BufferedImage(
        16, 16, java.awt.image.BufferedImage.TYPE_INT_RGB)
      for (y <- 0 until 16; x <- 0 until 16)
        img.setRGB(x, y, (shade << 16) | (shade << 8) | shade)
      javax.imageio.ImageIO.write(img, "png", dir.resolve(name).toFile)
    }
    writePng("dark.png", 10)
    writePng("light.png", 240)
    val feats = Multimodal.extractFeatures(
      Multimodal.fromBinary(
        graft.sources.Sources.binaryCorpus(spark, dir.toString + "/*.png")),
      Multimodal.JdkMediaDecoder).collect()
    assert(feats.length == 2)
    val means = feats.map(_.features.sum / 16)
    // gray level survives the decode: one image near 10/255, one near 240/255
    assert(means.min < 0.1f && means.max > 0.9f)
  }

  test("audio: genuine WAV decodes to per-segment RMS; silence and tone separate") {
    import spark.implicits._
    import javax.sound.sampled.{AudioFileFormat, AudioFormat, AudioInputStream, AudioSystem}
    // 8 kHz mono 16-bit WAV: first half a full-scale-/2 sine, second half silence
    def wav(): Array[Byte] = {
      val n = 8000
      val pcm = new Array[Byte](n * 2)
      for (i <- 0 until n / 2) {
        val s = (math.sin(2 * math.Pi * 440 * i / 8000.0) * 16384).toInt.toShort
        pcm(2 * i) = (s & 0xff).toByte
        pcm(2 * i + 1) = ((s >> 8) & 0xff).toByte
      }
      val fmt = new AudioFormat(8000f, 16, 1, true, false)
      val bos = new java.io.ByteArrayOutputStream()
      AudioSystem.write(new AudioInputStream(
        new java.io.ByteArrayInputStream(pcm), fmt, n), AudioFileFormat.Type.WAVE, bos)
      bos.toByteArray
    }
    val payload = wav()
    val ds = Seq(
      Multimodal.MediaRecord(1, "audio", payload, 0, 0, 1000),
      Multimodal.MediaRecord(2, "audio", Array.fill(64)(7.toByte), 0, 0, 1000) // not WAV
    ).toDS()
    val f = Multimodal.extractFeatures(ds, Multimodal.JdkMediaDecoder)
      .collect().map(r => r.media_id -> r.features.toSeq).toMap
    // real decode: tone half carries RMS ~0.35 (sine at half scale), silent half ~0
    assert(f(1).take(8).forall(v => v > 0.2f && v < 0.5f),
      s"tone segments off: ${f(1)}")
    assert(f(1).drop(8).forall(_ < 0.01f), s"silent segments off: ${f(1)}")
    // and it is NOT the stub's byte-histogram fake
    assert(f(1) != Multimodal.StubDecoder.decode("audio", payload).toSeq)
    // non-WAV bytes degrade per-record to the stub
    assert(f(2) == Multimodal.StubDecoder.decode("audio", Array.fill(64)(7.toByte)).toSeq)
  }

  test("multimodal: frame sampling fans out deterministically") {
    val media = Multimodal.syntheticMedia(spark, 50, partitions = 2)
    val frames = Multimodal.frameSample(media, frameBytes = 32, everyN = 2)
    val byMedia = frames.collect().groupBy(_.media_id)
    assert(byMedia.nonEmpty)
    // every sampled frame index is even and within the payload bounds
    val mediaLen = media.collect().map(m => (m.media_id, m.content.length)).toMap
    assert(frames.collect().forall { f =>
      f.frame_idx % 2 == 0 && f.frame_idx * 32 < mediaLen(f.media_id)
    })
  }

  test("int8 quantization: per-element reconstruction error <= scale/2") {
    import spark.implicits._
    val emb = Tables.embeddings(spark, sfDir)
      .select($"vec_id", SimilarityQueries.asDoubles($"embedding").as("vec"))
    val q = QuantizedKnn.quantize(emb)
      .withColumn("recon", QuantizedKnn.dequantize($"qvec", $"scale"))
    val worst = q.select(aggregate(
      zip_with($"vec", $"recon", (x, r) => abs(x - r) - $"scale" / 2 - lit(1e-9)),
      lit(0.0), (acc, d) => greatest(acc, d)).as("excess"))
      .agg(max($"excess")).as[Double].head()
    assert(worst <= 0.0, s"quantization error exceeded scale/2 by $worst")
    // codes stay in the symmetric int8 range
    assert(q.filter(exists($"qvec", b => abs(b) > 127)).count() == 0)
  }

  test("quantized knn: high recall vs exact after exact re-rank; deterministic") {
    import spark.implicits._
    val exact = SparkEntry.queries("q_sim_topk")(spark, sfDir)
      .select("probe_id", "vec_id")
    val nExact = exact.count()
    val quant = QuantizedKnn.approxTopK(spark, sfDir, 5)
      .select("probe_id", "vec_id")
    val recall = quant.intersect(exact).count().toDouble / nExact
    // int8 keeps ~7 bits of mantissa: with 4x overfetch + exact re-rank
    // the quantized scan must recover nearly all true neighbors
    assert(recall >= 0.9, s"quantized recall@5 = $recall < 0.9")
    val again = QuantizedKnn.approxTopK(spark, sfDir, 5)
      .select("probe_id", "vec_id")
    assert(quant.exceptAll(again).count() == 0 && again.exceptAll(quant).count() == 0)
  }
}
