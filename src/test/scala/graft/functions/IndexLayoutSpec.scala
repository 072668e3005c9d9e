package graft.functions

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.DataFrame

import graft.SparkSpec
import graft.pipeline.IngestPipeline

/** Pins the exact `_GRAFT_LAYOUT` bytes every writer of the shared layout
  * codec ([[IndexProtocol.writeLayout]]) produces. Fixture stamps reuse an
  * on-disk index only while the code would write the same bytes, and every
  * later append or probe reads its geometry back from them — so a change
  * to any payload here must be deliberate (and bump the family's scheme
  * version when old readers would misread it).
  */
class IndexLayoutSpec extends SparkSpec {
  import spark.implicits._

  private val root = Files.createTempDirectory("graft-layout").toString

  /** 3 docs, 11 tokens; order-2 transitions over {a, b, c, d, x, y}. */
  private def toy: DataFrame =
    Seq(1L -> "a b c a b c", 2L -> "b c d", 3L -> "x y").toDF("doc_id", "text")

  private def layout(path: String): String =
    Files.readString(Paths.get(path, "_GRAFT_LAYOUT"))

  test("every layout writer emits its pinned _GRAFT_LAYOUT bytes") {
    Dedup.writeFingerprintIndex(toy, s"$root/fp")
    assert(layout(s"$root/fp") == "mod=16")

    Dedup.writeBandIndex(toy, s"$root/band")
    assert(layout(s"$root/band") == "mod=16")

    Dedup.writeEvalIndex(toy, s"$root/eval")
    assert(layout(s"$root/eval") == "k=3,w=4")

    Dedup.writeSpanCountIndex(toy, s"$root/span")
    assert(layout(s"$root/span") == "k=4,minCount=3")

    Bm25.installIndex(toy, "text", "doc_id", s"$root/bm25")
    assert(layout(s"$root/bm25") == "bm=1")
    assert(layout(Bm25.indexRoot(s"$root/bm25")) == "n=3,l=11,bm=1,g=1")

    LangModel.train(toy, "text", s"$root/lm")
    assert(layout(s"$root/lm") == "v=6,lm=2,n=2")

    LangModel.installCountIndex(toy, "text", s"$root/lm_inc")
    assert(layout(s"$root/lm_inc") == "lm=2,n=2")
    assert(layout(LangModel.modelRoot(s"$root/lm_inc")) == "v=6,lm=2,n=2")

    val paths = IngestPipeline.IngestPaths(s"$root/ingest")
    IngestPipeline.ingestBatch(spark, paths, toy, 0L,
      cardSketch = Some(IngestPipeline.CardSketchConfig(k = 8)))
    assert(layout(paths.cardSketch) == "kmv=1,k=8")

    Unigram.writeModel(spark,
      Unigram.Model(Array("a", "b"), Array(10000L, 20000L), unkLpE4 = 70000L),
      s"$root/unigram")
    assert(layout(s"$root/unigram") == "unk=70000,uni=2,oov=unkid")
  }

  test("a v1 eval layout (k=3|w=4) is refused with the rebuild remedy") {
    val idx = s"$root/eval_v1"
    Dedup.writeEvalIndex(toy, idx)
    IndexProtocol.writeLayoutPayload(spark, idx, "k=3|w=4")
    val e = intercept[IllegalStateException](Dedup.contaminatedIds(spark, idx, toy).count())
    assert(e.getMessage.contains("rebuild it"), e.getMessage)
  }
}
