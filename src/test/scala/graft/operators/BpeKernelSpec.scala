package graft.operators

import graft.{SparkEntry, SparkSpec}

/** Corpus-level parity for the compiled q_bpe_tokens scan: the kernel
  * query must be bit-identical to the pre-kernel regex formulation on
  * the real sf0.001 documents (the property spec covers adversarial
  * alphabets; this covers the shipped plan end-to-end, same discipline
  * as the minhash kernel's explode twin).
  */
class BpeKernelSpec extends SparkSpec {

  test("compiled bpe token counts == regex formulation on the real corpus") {
    val kernel = SparkEntry.queries("q_bpe_tokens")(spark, Sf)
    val regex = ParityTwins.bpeTokensRegex(graft.io.Tables.documents(spark, Sf))
    assert(kernel.columns.toSeq == regex.columns.toSeq)
    assert(kernel.exceptAll(regex).count() == 0 && regex.exceptAll(kernel).count() == 0,
      "kernel and regex pretokenizer counts must be bit-identical")
    assert(kernel.count() > 0)
  }
}
