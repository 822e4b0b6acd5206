package graft

import java.nio.file.Files
import java.util.concurrent.atomic.AtomicInteger
import org.apache.hadoop.fs.Path
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.schema.MessageTypeParser
import org.apache.spark.graft.ListenerBridge
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.functions.{col, unix_micros}
import org.scalatest.funsuite.AnyFunSuite

/** [[Tables]] reads every fixture with a declared schema instead of
  * inferring one. A declared column the file lacks, or lacks under that
  * name, reads as all-null with no error, so the declaration is checked
  * against what Spark infers from every fixture generation on disk.
  */
class TablesSchemaSpec extends AnyFunSuite {
  import SparkTestSession.spark

  private val fixtureDirs = {
    val testdata = new java.io.File(SparkTestSession.sfDir).getParent
    Seq("sf0.001", "sf0.01", "sf0.1").map(sf => s"$testdata/$sf")
  }

  test("declared schemas equal the inferred schema of every fixture table") {
    // SynthScale's 2x copy of the smallest fixture is one more input:
    // the scaled corpora are written by Spark, not by the generator
    val base = fixtureDirs.head
    val synth = Files.createTempDirectory("synth2x").toFile
    try {
      SynthScale.write(spark, base, synth.getPath, 2)
      (fixtureDirs :+ synth.getPath).foreach { dir =>
        val onDisk = new java.io.File(dir).list().filter(_.endsWith(".parquet"))
          .map(_.stripSuffix(".parquet")).toSet
        assert(onDisk == Tables.Schemas.keySet, dir)
        Tables.Schemas.keys.foreach { name =>
          val inferred = spark.read.parquet(s"$dir/$name.parquet").schema
          assert(Tables.load(spark, dir, name).schema == inferred, s"$dir/$name")
        }
      }
      Tables.Schemas.keys.foreach { name =>
        val k = if (name == "region" || name == "nation") 1 else 2
        assert(Tables.load(spark, synth.getPath, name).count() ==
          k * Tables.load(spark, base, name).count(), name)
      }
    } finally {
      synth.listFiles().foreach(_.delete())
      synth.delete()
    }
  }

  test("events written as TIMESTAMP(NANOS) load with ts truncated to micros") {
    val dir = Files.createTempDirectory("nanos-events").toFile
    try {
      val schema = MessageTypeParser.parseMessageType(
        """message events {
          |  optional int64 event_id;
          |  optional int64 ts (TIMESTAMP(NANOS,false));
          |  optional int64 user_id;
          |  optional binary event_type (STRING);
          |  optional double value;
          |  optional binary props (STRING);
          |}""".stripMargin)
      // 2024-01-01T00:00:00.000001999 and later: sub-micro digits that
      // DIV 1000 must drop, never round
      val nanos = Seq(1704067200000001999L, 1704067261123456789L, 1706745599999999999L)
      val writer = ExampleParquetWriter
        .builder(new Path(s"${dir.getPath}/events.parquet"))
        .withType(schema)
        .withConf(spark.sparkContext.hadoopConfiguration)
        .build()
      try {
        val groups = new SimpleGroupFactory(schema)
        nanos.zipWithIndex.foreach { case (ns, i) =>
          writer.write(groups.newGroup()
            .append("event_id", i.toLong).append("ts", ns)
            .append("user_id", 7L * i).append("event_type", "click")
            .append("value", i * 0.5).append("props", s"""{"k": $i}"""))
        }
      } finally writer.close()

      val events = Tables.events(spark, dir.getPath)
      assert(events.schema("ts").dataType == org.apache.spark.sql.types.TimestampType)
      val got = events
        .select(col("event_id"), col("user_id"), col("value"), unix_micros(col("ts")))
        .orderBy("event_id").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3))).toSeq
      val want = nanos.zipWithIndex.map { case (ns, i) =>
        (i.toLong, 7L * i, i * 0.5, ns / 1000) }
      assert(got == want)
    } finally {
      dir.listFiles().foreach(_.delete())
      dir.delete()
    }
  }

  test("every Tables loader starts zero Spark jobs") {
    val dir = SparkTestSession.sfDir
    val loaders = Seq[(org.apache.spark.sql.SparkSession, String) => Any](
      Tables.region, Tables.nation, Tables.customer, Tables.supplier, Tables.part,
      Tables.orders, Tables.lineitem, Tables.events, Tables.documents, Tables.embeddings)
    val jobs = new AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    }
    ListenerBridge.waitUntilListenersProcessed(spark.sparkContext)
    spark.sparkContext.addSparkListener(listener)
    try {
      loaders.foreach(load => load(spark, dir))
      ListenerBridge.waitUntilListenersProcessed(spark.sparkContext)
    } finally spark.sparkContext.removeSparkListener(listener)
    assert(jobs.get == 0)
  }
}
