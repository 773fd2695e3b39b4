package graft.multimodal

import graft.SparkSpec
import java.nio.{ByteBuffer, ByteOrder}

/** The WAV codec's real-parser contract: roundtrip fidelity, RIFF chunk
  * walking (unknown chunks skipped, odd sizes padded — what actual files
  * contain), and loud failure on malformed/unsupported payloads. */
class AudioSpec extends SparkSpec {

  test("synthesized payload roundtrips through the real parser") {
    val bytes = Audio.wavPayload(42L, 123L)
    val w = Audio.decodeWav(bytes)
    assert(w.sampleRate == Audio.SampleRate && w.bitsPerSample == 16 && w.channels == 1)
    assert(w.samples.length == (123 % 200 + 16))
    assert(w.samples(0) == ((42 * 37) % 65536) - 32768)
    assert(w.samples(5) == ((42 * 37 + 5 * 97) % 65536) - 32768)
    assert(bytes.length == 44 + 2 * w.samples.length)
  }

  test("unknown chunks (odd-sized, padded) are skipped like a real reader") {
    val base = Audio.wavPayload(7L, 50L)
    // splice a 5-byte LIST chunk (odd size -> 1 pad byte) after "WAVE"
    val extra = ByteBuffer.allocate(8 + 6).order(ByteOrder.LITTLE_ENDIAN)
    extra.put("LIST".getBytes("US-ASCII")).putInt(5)
      .put(Array[Byte]('I', 'N', 'F', 'O', 'x', 0 /* pad */))
    val spliced = ByteBuffer.allocate(base.length + 14).order(ByteOrder.LITTLE_ENDIAN)
    spliced.put(base, 0, 12).put(extra.array()).put(base, 12, base.length - 12)
    val w = Audio.decodeWav(spliced.array())
    assert(w.samples.toSeq == Audio.decodeWav(base).samples.toSeq,
      "an interleaved metadata chunk must not perturb the decoded samples")
  }

  test("malformed and unsupported payloads fail loudly") {
    intercept[IllegalArgumentException] {
      Audio.decodeWav("not a riff file at all".getBytes("US-ASCII"))
    }
    // truncated mid-data: chunk size overruns the buffer
    val good = Audio.wavPayload(3L, 80L)
    intercept[IllegalArgumentException] {
      Audio.decodeWav(good.take(good.length - 7))
    }
    // stereo declared in fmt: unsupported encoding must be refused
    val stereo = good.clone()
    val bb = ByteBuffer.wrap(stereo).order(ByteOrder.LITTLE_ENDIAN)
    bb.putShort(22, 2.toShort) // numChannels field of the fmt chunk
    intercept[IllegalArgumentException] { Audio.decodeWav(stereo) }
    // empty data chunk: zero samples would NaN the features — refuse loudly
    val empty = ByteBuffer.allocate(44).order(ByteOrder.LITTLE_ENDIAN)
    empty.put(good, 0, 40).putInt(0) // header intact, data size 0
    intercept[IllegalArgumentException] { Audio.decodeWav(empty.array()) }
  }

  test("a final odd-sized chunk without its EOF pad byte still decodes") {
    val base = Audio.wavPayload(9L, 60L)
    // append a 3-byte odd chunk with NO trailing pad (real writers do this)
    val tail = ByteBuffer.allocate(8 + 3).order(ByteOrder.LITTLE_ENDIAN)
    tail.put("junk".getBytes("US-ASCII")).putInt(3).put(Array[Byte](1, 2, 3))
    val spliced = ByteBuffer.allocate(base.length + 11).order(ByteOrder.LITTLE_ENDIAN)
    spliced.put(base).put(tail.array())
    val w = Audio.decodeWav(spliced.array())
    assert(w.samples.toSeq == Audio.decodeWav(base).samples.toSeq)
  }

  test("frame energies partition the total energy exactly") {
    val recs = Audio.records(spark, sf("sf0.001")).limit(20)
    val frames = Audio.frameEnergies(recs).collect()
    val feats = recs.collect().map { r =>
      val w = Audio.decodeWav(r.payload)
      r.doc_id -> w.samples.map(s => s.toLong * s).sum
    }.toMap
    val byDoc = frames.groupBy(_.doc_id).view.mapValues(_.map(_.energy).sum).toMap
    assert(byDoc == feats.filter { case (k, _) => byDoc.contains(k) },
      "sum of frame energies must equal the whole-clip energy")
    assert(frames.forall(f => f.n_in_frame > 0 && f.n_in_frame <= 64))
  }
}
