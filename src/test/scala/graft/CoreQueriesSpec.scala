package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class CoreQueriesSpec extends AnyFunSuite {
  import SparkTestSession.{spark, sfDir}

  test("entry smoke: flagship wordcount returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  // every query executing is SurfaceSweepSpec's first check
  test("every query key has an oracle") {
    // declared exceptions: approximate sketches have no cross-engine
    // oracle by design (DuckDB's approx_count_distinct is a different
    // sketch); their error bound is spec-checked in StatsSpec instead.
    // The ANN paths are approximate in recall (no SQL oracle exists);
    // deterministic + recall-bounded in ScalePathSpec.
    // q_session_percentiles_gk: the GK production swap — DuckDB's
    // approx_quantile is a t-digest (different sketch, different
    // answers); rank-error gated in ScalarEventSpec instead.
    val declaredNoOracle = Set("sketch_distinct", "sketch_percentiles",
      "ann_lsh_topk", "ann_ivf_topk", "ann_quant_topk",
      "q_session_percentiles_gk")
    val noOracle =
      SparkEntry.queries.keySet -- SparkEntry.oracleSql.keySet -- declaredNoOracle
    assert(noOracle.isEmpty, s"queries missing oracle SQL: $noOracle")
    val orphans = SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet
    assert(orphans.isEmpty, s"oracle SQL without query: $orphans")
  }

  test("q_wordcount: total count equals total token count") {
    import spark.implicits._
    val total = SparkEntry.queries("q_wordcount")(spark, sfDir)
      .agg(sum($"cnt")).as[Long].head()
    val tokens = Tables.documents(spark, sfDir)
      .select(explode(split(lower($"text"), "[^a-z]+")).as("w"))
      .filter($"w" =!= "").count()
    assert(total == tokens)
  }

  test("q_wordcount: ordered by word, counts positive") {
    import spark.implicits._
    val words = SparkEntry.queries("q_wordcount")(spark, sfDir)
      .select($"word").as[String].collect()
    assert(words.toSeq == words.toSeq.sorted)
    val minCnt = SparkEntry.queries("q_wordcount")(spark, sfDir)
      .agg(min($"cnt")).as[Long].head()
    assert(minCnt >= 1)
  }

  test("q_inverted_index: n_docs matches doc_ids list length") {
    import spark.implicits._
    val bad = SparkEntry.queries("q_inverted_index")(spark, sfDir)
      .filter(size(split($"doc_ids", ",")) =!= $"n_docs")
      .count()
    assert(bad == 0)
  }

  test("capped inverted index: drops hot words, equals uncapped below cap") {
    import spark.implicits._
    // cap above any real df → identical to the reference-faithful index
    val uncapped = SparkEntry.queries("q_inverted_index")(spark, sfDir)
    val capped = SparkEntry.queries("q_inverted_index_capped")(spark, sfDir)
    assert(capped.exceptAll(uncapped).count() == 0 &&
      uncapped.exceptAll(capped).count() == 0)
    // a word in more docs than the cap keeps no posting list (letters
    // only: the [^a-z]+ tokenizer splits on digits)
    val docs = (1L to 6L)
      .map(i => (i, s"common uniq${('a' + i).toChar}")).toDF("doc_id", "text")
    val out = operators.CoreQueries.invertedIndexCapped(docs, 5)
      .select($"word").as[String].collect().toSet
    assert(out == (1 to 6).map(i => s"uniq${('a' + i).toChar}").toSet, s"got $out")
  }

  test("q_scan_project: deterministic limit — stable across runs") {
    val a = SparkEntry.queries("q_scan_project")(spark, sfDir).collect()
    val b = SparkEntry.queries("q_scan_project")(spark, sfDir).collect()
    assert(a.toSeq == b.toSeq)
  }

  test("q_filter: all predicates respected on tiny inline data") {
    import spark.implicits._
    val rows = Tables.lineitem(spark, sfDir)
      .filter($"l_quantity".between(10, 20) && $"l_returnflag".isin("A", "R") &&
        $"l_shipdate" >= to_timestamp(lit("1995-06-01 00:00:00")) &&
        $"l_linestatus".like("F%"))
    val expected = rows.groupBy($"l_returnflag").count().count()
    assert(SparkEntry.queries("q_filter")(spark, sfDir).count() == expected)
  }
}
