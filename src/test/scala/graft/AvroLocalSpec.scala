package graft

/** Avro over the CORE avro jar (the spark-avro connector is absent in
  * this sandbox; round 3 auto-cancelled the avro test). AvroLocal is
  * the reference-equivalent single-stream writer/reader — these tests
  * actually RUN here.
  */
class AvroLocalSpec extends SparkSpecBase {
  import graft.sources.AvroLocal

  test("avro round-trips primitives, arrays, nested structs, nulls") {
    val s = spark
    import s.implicits._
    val df = Seq(
      (1L, "alpha", Some(3.5), Seq(1, 2, 3), ("x", 10L)),
      (2L, "beta", None, Seq.empty[Int], ("y", 20L))
    ).toDF("id", "name", "score", "nums", "meta")
    val dir = tmpDir("graft-avro")
    val n = AvroLocal.write(df, s"$dir/t.avro")
    assert(n == 2)
    val back = AvroLocal.read(spark, s"$dir/t.avro").orderBy("id").collect()
    assert(back.length == 2)
    assert(back(0).getAs[String]("name") == "alpha")
    assert(back(0).getAs[Double]("score") == 3.5)
    assert(back(1).isNullAt(back(1).fieldIndex("score")))
    assert(back(0).getAs[scala.collection.Seq[Int]]("nums").toSeq == Seq(1, 2, 3))
    assert(back(0).getAs[org.apache.spark.sql.Row]("meta").getLong(1) == 10L)
  }

  test("avro fallback engages through Converter when the connector is absent") {
    val s = spark
    import s.implicits._
    val df = Seq((1L, "a"), (2L, "b")).toDF("id", "name")
    val dir = tmpDir("graft-avro-conv") + "/out"
    graft.sources.Converter.write(df, dir, "avro")
    val back = graft.sources.Converter.read(spark, dir,
      graft.sources.Converter.ReadOptions("avro"))
    assert(back.orderBy("id").collect().map(_.getString(1)).toSeq == Seq("a", "b"))
  }

  test("avro binary and timestamp columns survive (timestamp as ISO string)") {
    val s = spark
    import s.implicits._
    val df = Seq((1L, Array[Byte](1, 2, 3), java.sql.Timestamp.valueOf("2024-06-15 10:30:00")))
      .toDF("id", "payload", "ts")
    val dir = tmpDir("graft-avro-bin")
    AvroLocal.write(df, s"$dir/t.avro")
    val r = AvroLocal.read(spark, s"$dir/t.avro").collect()(0)
    assert(r.getAs[Array[Byte]]("payload").toSeq == Seq[Byte](1, 2, 3))
    assert(r.getAs[String]("ts").startsWith("2024-06-15 10:30"))
  }
}
