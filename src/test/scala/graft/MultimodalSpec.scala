package graft

import graft.ext.Multimodal

class MultimodalSpec extends SparkSpec {

  private lazy val assets = Multimodal.syntheticAssets(
    spark, Tables.load(spark, sfDir, "documents")).cache()

  test("decode: one meta row per asset, deterministic, kind-appropriate fields") {
    val meta = Multimodal.decode(assets).cache()
    assert(meta.count() === assets.count())
    val again = Multimodal.decode(assets)
    assert(meta.toDF().exceptAll(again.toDF()).isEmpty)
    meta.collect().foreach { m =>
      m.kind match {
        case "image" => assert(m.width > 0 && m.height > 0 && m.n_frames === 1)
        case "audio" => assert(m.sample_rate_hz > 0 && m.width === 0)
        case "video" => assert(m.n_frames > 0 && m.width > 0)
      }
      assert(m.n_bytes > 0)
    }
    meta.unpersist()
  }

  test("plan is narrow: decode stage has no shuffle") {
    val plan = Multimodal.decode(assets).queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"unexpected shuffle in decode plan:\n$plan")
  }
}
