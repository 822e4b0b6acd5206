package graft

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.sources.Sources

/** The reference's I/O surface end-to-end, including its flagship
  * wordcount over its own Gutenberg corpus (read-only at
  * /root/reference/main/pg-*.txt).
  */
class SourcesSpec extends AnyFunSuite {
  import SparkTestSession.spark

  private val gutenberg = "/root/reference/main/pg-*.txt"
  private lazy val haveCorpus =
    Files.exists(Paths.get("/root/reference/main/pg-being_ernest.txt"))

  test("whole-file scan: one row per input file, full contents") {
    assume(haveCorpus)
    val corpus = Sources.wholeTextCorpus(spark, gutenberg)
    assert(corpus.count() == 8) // the reference's 8 map tasks
    val sizes = corpus.select(length(col("content")).as("n")).collect().map(_.getAs[Int]("n"))
    assert(sizes.forall(_ > 100000)) // whole files, not lines
  }

  test("reference flagship: wordcount over the Gutenberg corpus") {
    assume(haveCorpus)
    import spark.implicits._
    // mrapps/wc.go semantics: split on non-letter runs, count per word
    val counts = Sources.wholeTextCorpus(spark, gutenberg)
      .select(explode(split(col("content"), "[^\\p{L}]+")).as("word"))
      .filter($"word" =!= "")
      .groupBy("word").count()
    assert(counts.count() > 10000)
    val the = counts.filter($"word" === "the").select("count").as[Long].head()
    assert(the > 10000) // 'the' dominates any English corpus
  }

  test("NDJSON KV intermediate round-trips") {
    import spark.implicits._
    val dir = Files.createTempDirectory("kvjson_").toString
    val df = Seq(("a", 1L), ("b", 2L), ("c", 3L)).toDF("k", "v")
    Sources.writeKvJson(df, "k", "v", dir)
    val back = Sources.readKvJson(spark, dir)
    assert(back.columns.toSeq == Seq("Key", "Value"))
    assert(back.as[(String, String)].collect().toMap ==
      Map("a" -> "1", "b" -> "2", "c" -> "3"))
  }

  test("binary corpus: one row per file, bytes intact, metadata-only scans prune content") {
    assume(haveCorpus)
    import spark.implicits._
    val media = Sources.binaryCorpus(spark, gutenberg)
    assert(media.count() == 8)
    assert(media.columns.toSet ==
      Set("path", "modificationTime", "length", "content"))
    // bytes round-trip: content length equals the reported file length
    assert(media.filter(length($"content") =!= $"length").count() == 0)
    // metadata-only projection must not read payload bytes
    val metaPlan = media.select("path", "length")
      .queryExecution.executedPlan.toString
    assert(!metaPlan.contains("content"),
      "metadata projection still reads content:\n" + metaPlan.take(800))
  }

  test("compaction: many small files become the target count, rows intact") {
    import spark.implicits._
    val in = Files.createTempDirectory("small_").toString
    val out = Files.createTempDirectory("compacted_").toString
    spark.range(0, 1000).repartition(50).write.mode("overwrite").parquet(in)
    assert(new java.io.File(in).listFiles()
      .count(_.getName.endsWith(".parquet")) == 50)
    Sources.compact(spark, in, out, targetFiles = 4)
    assert(new java.io.File(out).listFiles()
      .count(_.getName.endsWith(".parquet")) == 4)
    val back = spark.read.parquet(out)
    assert(back.count() == 1000)
    assert(back.as[Long].collect().toSet == (0L until 1000L).toSet)
  }

  test("global sorted write: part files hold non-overlapping ranges, concatenation is sorted") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("gsort_").toString
    val df = Tables.orders(spark, SparkTestSession.sfDir)
      .select("o_orderkey", "o_totalprice")
    Sources.writeGlobalSorted(df, "o_totalprice", dir, numFiles = 4)
    val files = new java.io.File(dir).listFiles()
      .filter(_.getName.startsWith("part-")).map(_.getAbsolutePath).sorted
    assert(files.length == 4)
    // within each file: sorted; across files in name order: ranges ascend
    var prevMax = Double.NegativeInfinity
    for (f <- files) {
      val vals = spark.read.parquet(f).select("o_totalprice").as[Double].collect()
      assert(vals.sameElements(vals.sorted), s"$f not locally sorted")
      if (vals.nonEmpty) {
        assert(vals.head >= prevMax, "file ranges overlap — not a total sort")
        prevMax = vals.last
      }
    }
    // nothing lost
    assert(spark.read.parquet(dir).count() == df.count())
  }

  test("KV text sink: sharded, sorted-within-shard 'key value' lines") {
    import spark.implicits._
    val dir = Files.createTempDirectory("kvtext_").toString
    val df = (1 to 100).map(i => (s"k%03d".format(i), i.toLong)).toDF("k", "v")
    Sources.writeKvText(df, "k", "v", dir, numShards = 4)
    val files = new java.io.File(dir).listFiles().filter(_.getName.startsWith("part-"))
    assert(files.length == 4) // the reference's mr-out-<R> sharding
    val lines = spark.read.text(dir).as[String].collect()
    assert(lines.length == 100)
    assert(lines.forall(_.matches("k\\d{3} \\d+")))
    // keys sorted within each shard, like the reference's sorted reduce output
    files.foreach { f =>
      val shard = scala.io.Source.fromFile(f).getLines().toSeq
      assert(shard == shard.sorted)
    }
  }
}
