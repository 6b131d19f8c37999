package graft

/** Sniff breadth (round-4 ask #5): KOI8-R vs cp1251 by Cyrillic case
  * band, windows-1252 vs ISO-8859-1 by 0x80-0x9F punctuation — and
  * each detected name must actually FEED a working Spark read.
  */
class SniffBreadthSpec extends SparkSpecBase {
  import graft.sources.{Converter, Sniff}

  private val ru = "пример;данные;файл\nзначение;строка;текст\n"

  test("KOI8-R text sniffs as KOI8-R, cp1251 stays windows-1251") {
    assert(Sniff.encoding(ru.getBytes("KOI8-R")) == "KOI8-R")
    assert(Sniff.encoding(ru.getBytes("windows-1251")) == "windows-1251")
  }

  test("windows-1252 smart punctuation sniffs as windows-1252, plain latin-1 stays ISO-8859-1") {
    val smart = "price,note\n5,“café” — ok\n"
    assert(Sniff.encoding(smart.getBytes("windows-1252")) == "windows-1252")
    val plain = "price,note\n5,café\n"
    assert(Sniff.encoding(plain.getBytes("ISO-8859-1")) == "ISO-8859-1")
  }

  test("sniffed KOI8-R feeds a working csv read end-to-end") {
    val dir = tmpDir("graft-koi8")
    val p = s"$dir/ru.csv"
    java.nio.file.Files.write(java.nio.file.Paths.get(p),
      "id,word\n1,данные\n".getBytes("KOI8-R"))
    val (enc, delim) = Sniff.sniffFile(p)
    assert(enc == "KOI8-R" && delim == ",")
    val df = Converter.read(spark, p,
      Converter.ReadOptions("csv", encoding = enc))
    assert(df.collect()(0).getAs[String]("word") == "данные")
  }

  test("sniffed windows-1252 feeds a working csv read end-to-end") {
    val dir = tmpDir("graft-cp1252")
    val p = s"$dir/fr.csv"
    java.nio.file.Files.write(java.nio.file.Paths.get(p),
      "id,note\n1,“café”\n".getBytes("windows-1252"))
    val (enc, _) = Sniff.sniffFile(p)
    assert(enc == "windows-1252")
    val df = Converter.read(spark, p,
      Converter.ReadOptions("csv", encoding = enc))
    assert(df.collect()(0).getAs[String]("note") == "“café”")
  }

  test("ALL-CAPS cp1251 (the inherent ambiguity) is documented as KOI8-R-shaped") {
    // uppercase-dominant Cyrillic genuinely matches KOI8-R's lowercase
    // band — chardet has the same confusion; this test pins the
    // documented behavior rather than hiding it
    val caps = "ЗАГОЛОВОК;РАЗДЕЛ\nДАННЫЕ;ТЕКСТ\n"
    assert(Sniff.encoding(caps.getBytes("windows-1251")) == "KOI8-R")
  }
}
