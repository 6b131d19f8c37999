package graft

import org.apache.spark.sql.functions._

/** Round-6 additions: the C4 line rules and page gates (the round's
  * dedup tests live in DedupSpec and SemanticDedupSpec).
  */
class Round6Spec extends SparkSpecBase {

  test("c4Rules: each line rule and page gate fires independently") {
    val s = spark
    import s.implicits._
    val docs = Seq(
      // kept: lines 1 and 5; dropped: short (word rule), no-punct
      // (punct rule), javascript notice (js rule). 2 sentences < 3
      ("d1", "This line has five good words.\nShort one.\n" +
        "no terminal punctuation in this line\n" +
        "Please enable javascript to continue browsing now.\n" +
        "Another fine sentence with enough words!"),
      // lorem-ipsum page gate (lines themselves are clean)
      ("d2", "Lorem ipsum dolor sit amet consectetur elit today.\n" +
        "A second proper sentence with many plain words.\n" +
        "A third proper sentence with many plain words."),
      // curly-brace page gate
      ("d3", "The handler registers a callback like this { now }.\n" +
        "A second proper sentence with many plain words.\n" +
        "A third proper sentence with many plain words."),
      // blocklist page gate (word-boundary match)
      ("d4", "Cheap viagra shipped overnight to your door today.\n" +
        "A second proper sentence with many plain words.\n" +
        "A third proper sentence with many plain words."),
      // clean page: 3 kept lines, 3 sentences -> passes
      ("d5", "The first good sentence has enough plain words.\n" +
        "The second good sentence has enough plain words?\n" +
        "The third good sentence has enough plain words!")
    ).toDF("doc_id", "text")
    val out = docs.select(col("doc_id"),
        graft.text.TextOps.c4Rules(col("text")).as("c4"))
      .select(col("doc_id"), col("c4.*"))
      .collect().map(r => r.getString(0) -> r).toMap
    // row = (doc_id, n_lines, n_kept, n_sentences, has_lorem,
    //        has_brace, has_badword, c4_pass, text_clean)
    assert(out("d1").getLong(2) == 2 && out("d1").getLong(3) == 2 &&
      !out("d1").getBoolean(7), "d1: 2 kept lines, 2 sentences, fails")
    assert(out("d2").getBoolean(4) && !out("d2").getBoolean(7), "d2 lorem")
    assert(out("d3").getBoolean(5) && !out("d3").getBoolean(7), "d3 brace")
    assert(out("d4").getBoolean(6) && !out("d4").getBoolean(7), "d4 badword")
    assert(out("d5").getBoolean(7) && out("d5").getLong(2) == 3, "d5 passes")
    // viagrafix must NOT match: word-boundary, not substring
    val sub = Seq(("d6", "The viagrafix utility compiles quite quickly today.\n" +
        "A second proper sentence with many plain words.\n" +
        "A third proper sentence with many plain words."))
      .toDF("doc_id", "text")
      .select(graft.text.TextOps.c4Rules(col("text")).as("c4"))
      .select(col("c4.has_badword"), col("c4.c4_pass")).head()
    assert(!sub.getBoolean(0) && sub.getBoolean(1), "boundary-only match")
  }
}
