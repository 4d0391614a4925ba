package graft.functions

import java.text.Normalizer

import org.apache.spark.sql.Column
import org.apache.spark.unsafe.types.UTF8String

/** Unicode normalization (NFC/NFD/NFKC/NFKD) as a per-row kernel —
  * the canonical first step of text cleaning: crawled text mixes
  * composed and decomposed forms of the same glyph ("é" as one codepoint
  * or as e+U+0301), which breaks exact dedup, shingling, and vocabulary
  * counting unless every document is folded to one canonical form first.
  * Complements [[Unidecode]] (which destroys information down to ASCII);
  * normalization is lossless within Unicode.
  */
object NormalizeKernel {
  def normalize(s: UTF8String, form: Normalizer.Form): UTF8String = {
    val in = s.toString
    // fast path: NFC/NFKC of ASCII (the overwhelming majority of web
    // text) is the identity — skip the Normalizer machinery
    if (Normalizer.isNormalized(in, form)) s
    else UTF8String.fromString(Normalizer.normalize(in, form))
  }
}

object NormalizeExprs {
  /** `unicode_normalize(s)`: normalize to the given form. */
  def unicodeNormalize(s: Column, form: String): Column = {
    require(Seq("NFC", "NFD", "NFKC", "NFKD").contains(form),
      s"unknown normalization form: $form")
    Kernels.unicodeNormalize(s, Normalizer.Form.valueOf(form))
  }
}
