package graft

import org.apache.spark.sql.Row

class HtmlExtractSpec extends SparkSpecBase {
  import graft.functions.HtmlExtract

  test("blocks: headings, paragraphs, inline tags, stats") {
    val bs = HtmlExtract.blocks(
      "<html><body><h1>Big News</h1><p>Hello <b>bold</b> world</p>" +
        "<div>Menu: <a href='/x'>home</a> <a href='/y'>about us</a></div>" +
        "</body></html>")
    assert(bs.map(_.text) ==
      Seq("Big News", "Hello bold world", "Menu: home about us"))
    assert(bs(0).heading && !bs(1).heading)
    assert(bs(1).nWords == 3 && bs(1).anchorWords == 0)
    assert(bs(2).nWords == 4 && bs(2).anchorWords == 3) // home, about, us
  }

  test("script/style dropped; </scripty> cannot close <script>") {
    val bs = HtmlExtract.blocks(
      "<p>keep</p><script>var a = '<p>no</p>'; x()</scripty> still js" +
        "</SCRIPT><p>after</p><style>p { color: red }</style>")
    assert(bs.map(_.text) == Seq("keep", "after"))
  }

  test("comments, doctype, CDATA, quoted '>' in attributes") {
    val bs = HtmlExtract.blocks(
      "<!DOCTYPE html><!-- a comment <p>x</p> --><p data-q=\"a > b\">" +
        "one</p><![CDATA[raw & text]]><p>two</p>")
    // </p> is a block boundary, so the CDATA text is its own block
    assert(bs.map(_.text) == Seq("one", "raw & text", "two"))
  }

  test("entities: named, numeric, hex, nbsp, unknown pass-through") {
    val bs = HtmlExtract.blocks(
      "<p>A &amp; B &lt;tag&gt; &#65;&#x42; a&nbsp;b &bogus; &#xZZ; end</p>")
    assert(bs.map(_.text) == Seq("A & B <tag> AB a b &bogus; &#xZZ; end"))
  }

  test("malformed input never throws; unterminated constructs eat to EOF") {
    assert(HtmlExtract.blocks("<p>ok<script>never closed").map(_.text)
      == Seq("ok"))
    assert(HtmlExtract.blocks("<!-- never closed <p>x").isEmpty)
    assert(HtmlExtract.blocks("text < 5 and > 3").map(_.text)
      == Seq("text < 5 and > 3")) // stray < before space is literal
    assert(HtmlExtract.blocks("<p att='unterminated").map(_.text) == Nil)
  }

  test("mainContent drops short and link-dense blocks, keeps headings") {
    val s = spark
    import s.implicits._
    val html =
      "<h1>Title</h1><p>This paragraph has more than five words in it</p>" +
        "<div><a href='/'>nav</a> <a href='/'>links</a> <a href='/'>only</a>" +
        " <a href='/'>menu</a> <a href='/'>bar</a> <a href='/'>here</a></div>" +
        "<p>tiny</p>"
    val out = Seq(html).toDF("html")
      .select(HtmlExtract.mainContent($"html", minWords = 5,
        maxAnchorPct = 50).as("t"))
      .collect()(0).getString(0)
    assert(out == "Title\nThis paragraph has more than five words in it")
  }

  test("native expression participates in whole-stage codegen") {
    val s = spark
    import s.implicits._
    import org.apache.spark.sql.functions._
    // a range source (not a LocalTableScan, which folds eagerly)
    val df = s.range(1)
      .select(concat(lit("<p>a b "), $"id".cast("string"), lit("</p>"))
        .as("html"))
      .select(graft.functions.HtmlExtract.blocksOf($"html").as("b"))
    val plan = df.queryExecution.executedPlan.toString
    // the "*(n)" prefix marks a WholeStageCodegen stage
    assert(plan.contains("*(1) Project"), plan)
    assert(df.collect()(0).getSeq[org.apache.spark.sql.Row](0).head
      .getString(0) == "a b 0")
  }
}
