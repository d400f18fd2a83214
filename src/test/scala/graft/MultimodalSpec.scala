package graft

import graft.functions.Multimodal
import graft.functions.Multimodal.MediaRecord

class MultimodalSpec extends SparkSpec {
  import spark.implicits._

  private def rec(id: Long, bytes: Array[Byte]) = MediaRecord(id, bytes, "image/fake")

  test("decodeMeta batches per partition and emits deterministic meta") {
    val ds = Seq(
      rec(1L, Array[Byte](1, 2, 3, 4)),
      rec(2L, Array[Byte](9, 9, 9, 9, 9, 9)),
      rec(3L, Array.empty[Byte])).toDS().repartition(2)
    val out = Multimodal.decodeMeta(ds).collect().sortBy(_.media_id)
    assert(out.length == 3)
    assert(out(0).ok && out(0).n_bytes == 4 && out(0).width >= 64 && out(0).height >= 64)
    assert(!out(2).ok && out(2).format == "empty")
    // determinism: same payload → same meta on a rerun
    val again = Multimodal.decodeMeta(ds).collect().sortBy(_.media_id)
    assert(out.toSeq.map(m => (m.width, m.height)) == again.toSeq.map(m => (m.width, m.height)))
  }

  test("decodeHeader parses real PNG/GIF/JPEG headers to true dimensions") {
    // PNG: dims live in IHDR as big-endian u32 at offsets 16/20
    assert(Multimodal.decodeHeader(Multimodal.Synth.png(640, 480))
      .contains((640, 480, "png")))
    assert(Multimodal.decodeHeader(Multimodal.Synth.png(1, 1))
      .contains((1, 1, "png")))
    assert(Multimodal.decodeHeader(Multimodal.Synth.png(70000, 3))
      .contains((70000, 3, "png"))) // > u16: exercises the full u32 read
    // GIF: little-endian u16 logical-screen descriptor
    assert(Multimodal.decodeHeader(Multimodal.Synth.gif(320, 200))
      .contains((320, 200, "gif")))
    assert(Multimodal.decodeHeader(Multimodal.Synth.gif(65535, 1))
      .contains((65535, 1, "gif")))
    // JPEG: SOF scan must hop the APP0 segment; height precedes width
    assert(Multimodal.decodeHeader(Multimodal.Synth.jpeg(1920, 1080))
      .contains((1920, 1080, "jpeg")))
    assert(Multimodal.decodeHeader(Multimodal.Synth.jpeg(8, 8, progressive = true))
      .contains((8, 8, "jpeg")))
    // round-7 advice: a stream ending EXACTLY after the SOF width bytes
    // parses — the old bound was one byte stricter and sent a valid
    // header to the stub (synth fixtures always carry component bytes,
    // so only a hand-built minimal stream exercises this)
    val sofOnly = Array(0xff, 0xd8, 0xff, 0xc0, 0x00, 0x08, 0x08,
      0x01, 0x00, 0x02, 0x80).map(_.toByte)
    assert(Multimodal.decodeHeader(sofOnly).contains((640, 256, "jpeg")))
    // corrupt/truncated → None (falls back to stub downstream)
    assert(Multimodal.decodeHeader(Multimodal.Synth.png(2, 2).take(20)).isEmpty)
    assert(Multimodal.decodeHeader("GIF89a".getBytes("US-ASCII")).isEmpty)
    assert(Multimodal.decodeHeader(Array[Byte](0xff.toByte, 0xd8.toByte,
      0xff.toByte, 0xd9.toByte)).isEmpty) // SOI then EOI: no frame header
    assert(Multimodal.decodeHeader(Array[Byte](1, 2, 3, 4)).isEmpty)
  }

  test("decodeMeta routes real headers to the parser and unknowns to the stub") {
    val ds = Seq(
      rec(1L, Multimodal.Synth.png(123, 45)),
      rec(2L, Multimodal.Synth.gif(77, 88)),
      rec(3L, Multimodal.Synth.jpeg(1024, 768)),
      rec(4L, Array[Byte](1, 2, 3, 4))).toDS().repartition(2)
    val out = Multimodal.decodeMeta(ds).collect().sortBy(_.media_id)
    assert(out(0).width == 123 && out(0).height == 45 && out(0).format == "png")
    assert(out(1).width == 77 && out(1).height == 88 && out(1).format == "gif")
    assert(out(2).width == 1024 && out(2).height == 768 && out(2).format == "jpeg")
    assert(out(3).format == "fake" && out(3).width >= 64) // stub fallback
    assert(out.forall(_.ok))
  }

  test("resize stub bounds payload size; frame sampling explodes chunks") {
    val ds = Seq(rec(1L, Array.fill[Byte](100)(7))).toDS()
    val resized = Multimodal.resizeStub(ds, maxDim = 10).collect().head
    assert(resized.payload.length == 10)
    val frames = Multimodal.frameSampleStub(ds, chunkBytes = 10, everyK = 2)
      .collect().map(r => (r.getInt(1), r.getInt(2))).sorted
    // 10 chunks of 10 bytes, every 2nd → frames 0,2,4,6,8
    assert(frames.map(_._1).toSeq == Seq(0, 2, 4, 6, 8))
    assert(frames.forall(_._2 == 10))
  }

  test("metadata projection prunes the binary column from the parquet scan") {
    val dir = tempDir("mm").toString
    Seq((1L, Array[Byte](1, 2, 3), "image/fake", 3L))
      .toDF("media_id", "payload", "mime_type", "n_bytes")
      .write.mode("overwrite").parquet(dir)
    val scan = Multimodal.metaProjection(spark.read.parquet(dir))
    val plan = scan.queryExecution.executedPlan.toString
    assert(plan.contains("media_id"))
    assert(!plan.split("ReadSchema").last.contains("payload"),
      s"binary column not pruned from scan: $plan")
    assert(scan.collect().head.getLong(2) == 3L)
  }
}
