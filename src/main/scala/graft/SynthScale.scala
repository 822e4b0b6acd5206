package graft

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Writes a k×-scaled synthetic copy of a testdata directory (default
  * 10× sf0.1 ≈ "sf1") so the expensive-tail queries can be
  * correctness-swept one decade past the driver's largest fixture
  * (CORRECTNESS_SF1 artifact — fixture-size-masked divergence shows
  * here first). The DuckDB oracle runs the same SQL on the same
  * parquet, so the sweep stays a true engine-vs-oracle comparison
  * regardless of how the data was manufactured.
  *
  * Replication is [[Replicas]]' transform: every key column shifts by
  * i·1e7 (FK pairs by the SAME offset, so join structure replicates);
  * document text moves to a replica-unique token space; embeddings get
  * ±0.05 float jitter. Replica 0 is the base data, untouched; the
  * fixed-size dimension tables (region, nation) copy verbatim.
  *
  *   sbt "runMain graft.SynthScale <srcDir> <outDir> <k>"
  *
  * `tools/scaling.py` runs it for the 4× and 16× points of SCALING.md.
  */
object SynthScale {
  def main(args: Array[String]): Unit = {
    val src = args.headOption.getOrElse("/root/testdata/sf0.1")
    val out = if (args.length > 1) args(1) else "/tmp/sf1synth"
    val k = if (args.length > 2) args(2).toInt else 10
    val spark = GraftSession.fromEnv()
    write(spark, src, out, k)
    spark.stop()
  }

  /** Writes the k× copy of `src` to `out`, one parquet file per table. */
  def write(spark: SparkSession, src: String, out: String, k: Int): Unit = {
    def load(name: String): DataFrame = Tables.load(spark, src, name)
    // single FILE per table, matching the driver fixtures' layout (the
    // DuckDB oracle globs `<dir>/<table>.parquet` as a file)
    def save(df: DataFrame, name: String): Unit = {
      val tmp = s"$out/_tmp_$name"
      df.coalesce(1).write.mode(SaveMode.Overwrite).parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      java.nio.file.Files.createDirectories(java.nio.file.Paths.get(out))
      java.nio.file.Files.move(part.toPath,
        java.nio.file.Paths.get(s"$out/$name.parquet"),
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      new java.io.File(tmp).listFiles().foreach(_.delete())
      new java.io.File(tmp).delete()
      println(s"[synth] wrote $name")
    }
    val Off = 10000000L
    def replicate(df: DataFrame, keyCols: Seq[String],
        extra: (DataFrame, Int) => DataFrame = (d, _) => d): DataFrame =
      Replicas.union(k) { i =>
        extra(keyCols.foldLeft(df)((d, c) =>
          d.withColumn(c, Replicas.shift(col(c), i, Off))), i)
      }

    save(load("region"), "region")
    save(load("nation"), "nation")
    save(replicate(load("customer"), Seq("c_custkey")), "customer")
    save(replicate(load("supplier"), Seq("s_suppkey")), "supplier")
    save(replicate(load("part"), Seq("p_partkey")), "part")
    save(replicate(load("orders"), Seq("o_orderkey", "o_custkey")), "orders")
    save(replicate(load("lineitem"),
      Seq("l_orderkey", "l_partkey", "l_suppkey")), "lineitem")
    // through the ts shim, so a nanos-generation source writes micros
    save(replicate(Tables.events(spark, src), Seq("event_id", "user_id")), "events")
    // n_chars tracks the perturbed text (the fixture invariant
    // n_chars == length(text) holds in the base data)
    save(replicate(load("documents"), Seq("doc_id"),
      (d, i) => {
        val t =
          if (i == 0) d
          else d.withColumn("text", Replicas.disjointText(col("text"), i))
        t.withColumn("n_chars", length(col("text")).cast("long"))
          .select("doc_id", "text", "lang", "source", "n_chars")
      }), "documents")
    save(replicate(load("embeddings"), Seq("vec_id"),
      (d, i) =>
        (if (i == 0) d
         else d.withColumn("embedding",
           // back to float: Tables declares embedding ARRAY<FLOAT>
           transform(col("embedding"), (x, j) =>
             (x + Replicas.jitterDelta(col("vec_id"), i, j) / 20000.0).cast("float"))))
          .select("vec_id", "embedding", "label")), "embeddings")
    println(s"[synth] done: $out at ${k}x of $src")
  }
}
