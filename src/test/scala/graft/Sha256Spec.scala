package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.util.Sha256

/** The media_ref hash is shared by the corpus generators and the
  * converters, so a wrong digest would agree with itself on both sides:
  * pin it to the FIPS 180-2 known answers. */
class Sha256Spec extends AnyFunSuite {

  test("known answers: \"abc\" and the empty string") {
    assert(Sha256.hex("abc") ==
      "ba7816bf8f01cfea414140de5dae2223b00361a396177a9cb410ff61f20015ad")
    assert(Sha256.hex("") ==
      "e3b0c44298fc1c149afbf4c8996fb92427ae41e4649b934ca495991b7852b855")
    assert(Sha256.hex("abc".getBytes("UTF-8")) == Sha256.hex("abc"))
  }
}
