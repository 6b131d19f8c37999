package graft

/** 7z container support (commons-compress + xz ship in
  * /opt/spark/jars) — the reference's optional py7zr path
  * (undatum/common/iterable.py:10-27); round 3's one container gap
  * with no environmental excuse.
  */
class SevenZipSpec extends SparkSpecBase {

  private def write7z(path: String, inner: String, bytes: Array[Byte]): Unit = {
    val out = new org.apache.commons.compress.archivers.sevenz.SevenZOutputFile(
      new java.io.File(path))
    try {
      val e = out.createArchiveEntry(new java.io.File("."), inner)
      out.putArchiveEntry(e)
      out.write(bytes)
      out.closeArchiveEntry()
    } finally out.close()
  }

  test("7z container round-trips through readContainer") {
    val dir = tmpDir("graft-7z")
    val archive = s"$dir/docs.csv.7z"
    write7z(archive, "docs.csv", "id,word\n1,alpha\n2,beta\n".getBytes("UTF-8"))
    val df = graft.sources.Converter.readContainer(spark, archive,
      graft.sources.Converter.ReadOptions("csv"))
    val rows = df.orderBy("id").collect()
    assert(rows.length == 2)
    assert(rows(1).getAs[String]("word") == "beta")
  }

  test("7z skips directory entries and keeps the inner suffix dispatch") {
    val dir = tmpDir("graft-7z-jsonl")
    val archive = s"$dir/events.jsonl.7z"
    write7z(archive, "nested/events.jsonl",
      """{"id":1,"kind":"click"}""" + "\n" + """{"id":2,"kind":"view"}""" + "\n",
      )
    val df = graft.sources.Converter.readContainer(spark, archive,
      graft.sources.Converter.ReadOptions("jsonl"))
    assert(df.count() == 2)
    assert(df.columns.toSet == Set("id", "kind"))
  }

  private def write7z(path: String, inner: String, text: String): Unit =
    write7z(path, inner, text.getBytes("UTF-8"))

  test("analyzeFile reports the 7z container") {
    val dir = tmpDir("graft-7z-analyze")
    val archive = s"$dir/t.csv.7z"
    write7z(archive, "t.csv", "a,b\n1,2\n3,4\n")
    val fa = graft.operators.Analyzer.analyzeFile(spark, archive)
    assert(fa.container == "7z")
    assert(fa.format == "csv")
    assert(fa.df.count() == 2)
  }
}
