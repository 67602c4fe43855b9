package graft.fixtures

import org.scalatest.funsuite.AnyFunSuite

/** Byte-identity pin for the transcript generator: the corpus is the input
  * of every extraction-family oracle row AND the flagship extract bench leg
  * times generation + extraction fused, so a generator refactor (the r06
  * micro-optimization: manual zero-padding instead of String.format, char
  * loops instead of Vector.fill) must not move a single byte. Fingerprints
  * were computed from the round-5 generator BEFORE the refactor and pinned
  * here — full-field FNV over every turn. */
class TranscriptGenSpec extends AnyFunSuite {

  private def fnv(s: String, h0: Long): Long = {
    var h = h0
    var i = 0
    while (i < s.length) { h ^= s.charAt(i); h *= 0x100000001b3L; i += 1 }
    h
  }
  private def fingerprint(nConvs: Int): Long = {
    var h = 0xcbf29ce484222325L
    graft.fixtures.TranscriptGen.corpus(42L, nConvs).foreach { t =>
      h = fnv(t.conv_id, h)
      h = fnv(t.turn_idx.toString, h)
      h = fnv(t.role, h)
      h = fnv(if (t.tool == null) " " else t.tool, h)
      h = fnv(t.ts.toString, h)
      h = fnv(t.text, h)
      h *= 0x9e3779b97f4a7c15L
    }
    h
  }

  test("generated corpus is byte-identical to the pinned r05 fingerprints") {
    assert(fingerprint(5) == -9217911858207101434L)
    assert(fingerprint(60) == 3955171100520586998L)
    assert(fingerprint(150) == -6520474531946532570L)
  }
}
