package graft.sources

import java.nio.file.Files

import org.apache.spark.sql.types._

import graft.SparkSpec

class JsonLakeSpec extends SparkSpec {
  import spark.implicits._

  private val schema = StructType(Seq(
    StructField("id", LongType),
    StructField("name", StringType),
    StructField("score", DoubleType)))

  test("array-lake roundtrip with declared schema; one array file per chunk") {
    val dir = Files.createTempDirectory("jsonlake").toString
    val df = (0L until 100L).map(i => (i, s"n$i", i / 4.0)).toDF("id", "name", "score")
    JsonLake.writeArrayLake(df, "id", 50, dir)

    // layout: one directory per 50-record chunk, whose single file is one
    // JSON array (starts with '[' — the reference archiver's object shape)
    val chunks = new java.io.File(dir).listFiles().filter(_.getName.startsWith("chunk="))
    assert(chunks.map(_.getName).sorted.toSeq == Seq("chunk=0", "chunk=1"))
    val files = chunks.flatMap(_.listFiles().filter(_.getName.endsWith(".txt")))
    assert(files.length == 2)
    files.foreach(f => assert(Files.readString(f.toPath).trim.startsWith("[")))
    // a non-.txt file inside a chunk directory is not part of the lake
    Files.writeString(chunks.head.toPath.resolve("notes.json"), "[{\"id\": -1}]")

    val back = JsonLake.readArrayLake(spark, dir, schema)
    assert(back.columns.toSeq == Seq("id", "name", "score"), "no chunk column")
    assert(back.as[(Long, String, Double)].collect().toSet ==
      (0L until 100L).map(i => (i, s"n$i", i / 4.0)).toSet)
  }

  test("schema inference reads the same records (the reference's read path)") {
    val dir = Files.createTempDirectory("jsonlake").toString
    val df = Seq((1L, "a", 0.5), (2L, "b", 1.5)).toDF("id", "name", "score")
    JsonLake.writeArrayLake(df, "id", 50, dir)
    Files.writeString(java.nio.file.Paths.get(dir, "chunk=0", "notes.json"), "[{\"id\": -1}]")
    val back = JsonLake.readArrayLakeInferred(spark, dir)
    assert(back.columns.toSeq == Seq("id", "name", "score"), "no chunk column")
    assert(back.as[(Long, String, Double)].collect().toSet ==
      Set((1L, "a", 0.5), (2L, "b", 1.5)))
  }
}
