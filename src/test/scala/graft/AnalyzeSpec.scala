package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.scalatest.funsuite.AnyFunSuite
import graft.engine.Analyze
import graft.engine.Analyze.{Actor, Analysis}

class AnalyzeSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  test("rule-based analyzer is deterministic and extracts actors") {
    val r1 = Analyze.RuleBasedAnalyzer.analyze(
      "Prime Minister Jane Smith resigns", "John Doe named successor")
    val r2 = Analyze.RuleBasedAnalyzer.analyze(
      "Prime Minister Jane Smith resigns", "John Doe named successor")
    assert(r1 == r2)
    val a = r1.get
    assert(a.main_actors.head.name == "Prime Minister Jane Smith")
    assert(a.main_actors.head.role == "politician")
    assert(a.category == "Leadership Change")
    assert(a.other_actors.map(_.name).contains("John Doe"))
  }

  test("analyzer returns None on empty/absent signal (processor.py:110-111)") {
    assert(Analyze.RuleBasedAnalyzer.analyze("", "x").isEmpty)
    assert(Analyze.RuleBasedAnalyzer.analyze(null, "x").isEmpty)
    assert(Analyze.RuleBasedAnalyzer.analyze("no capitals here", "none").isEmpty)
  }

  test("category always lands in the 5-value enum (processor.py:31-35)") {
    val cats = Seq(
      "Acme Corp launches product", "Mayor Bob resigns",
      "Housing rent crisis", "Parliament protest", "Alice waves hello")
      .flatMap(t => Analyze.RuleBasedAnalyzer.analyze(t, "")).map(_.category)
    assert(cats.nonEmpty)
    assert(cats.toSet.subsetOf(graft.engine.Schemas.categories.toSet))
  }

  test("explodeActors flattens main+other with flags; null analysis skipped") {
    val df = Seq(
      ("n1", Some(Analysis(Seq(Actor("A", "r1")), Seq(Actor("B", "r2"), Actor("C", "r2")), "Others"))),
      ("n2", None), // failed analysis -> dropped (U2)
      ("n3", Some(Analysis(Seq(Actor("D", "r3")), Seq.empty, "Others")))
    ).toDF("id", "analysis")
    val out = Analyze.explodeActors(df)
      .collect().map(r => (r.getString(0), r.getString(1), r.getString(2), r.getBoolean(3)))
    assert(out.toSet == Set(
      ("n1", "A", "r1", true), ("n1", "B", "r2", false), ("n1", "C", "r2", false),
      ("n3", "D", "r3", true)))
  }

  test("withAnalysis row count preserved; failures become null structs") {
    val news = Seq(
      ("id1", "President Alice Wins", "desc"),
      ("id2", "", "desc"))
      .toDF("id", "title", "description")
    val out = Analyze.withAnalysis(spark, news)
    assert(out.count() == 2)
    val byId = out.collect().map(r => r.getString(r.fieldIndex("id")) ->
      (r.get(r.fieldIndex("analysis")) != null)).toMap
    assert(byId("id1") && !byId("id2"))
  }

  test("explodeActors over analyses equals explodeActors over withAnalysis") {
    val news = Seq(
      ("a1", null, "President Alice Smith resigns"), // null title: failed
      ("a2", "", "Mayor Bob Kane appoints Carol Day"), // empty title
      ("a3", "no capitals here", "none at all"), // no names: failed
      ("a4", "Acme Corp launches Widget Pro", "Alice Smith and Bob Lee"),
      ("a5", "Parliament protest grows", null),
      ("a6", "Housing rent crisis", "warns Dana Reed, Eve Ray, Finn Holt"))
      .toDF("id", "title", "description")
    def rows(df: DataFrame) =
      Analyze.explodeActors(df).collect().map(r =>
        (r.getString(0), r.getString(1), r.getString(2), r.getBoolean(3)))
        .toSeq.sorted
    val direct = rows(Analyze.analyses(spark, news))
    assert(direct == rows(Analyze.withAnalysis(spark, news)))
    // several actors per row, and only rows with a title and a name
    assert(direct.map(_._1).distinct == Seq("a4", "a5", "a6"))
    assert(direct.count(_._1 == "a6") >= 4)
    assert(direct.filter(_._4).map(_._1) == Seq("a4", "a5", "a6"))
  }
}
