package graft

import org.scalatest.funsuite.AnyFunSuite

/** The verify manifest's crash-safety contract: the Jackson-backed reader
  * round-trips what the writer escapes, merge semantics (children extend,
  * later statuses win), and corrupt-input degradation to empty rather than
  * an abort — the partial artifact must survive anything.
  */
class VerifyManifestSpec extends AnyFunSuite {

  test("parseManifest round-trips escaped keys and values") {
    val s = """{"q1_agg": "ok", "weird\nname\t\"x\"": "error", "u": ""}"""
    val m = Verify.parseManifest(s)
    assert(m("q1_agg") == "ok")
    assert(m("weird\nname\t\"x\"") == "error")
    assert(m("u") == "")
    // and through the writer: control characters and quotes in a key
    val dir = SparkSpec.scratch("manifest_escape")
    val odd = "tab\there \"q\" \u0001 back\\slash"
    Verify.mergeManifest(dir, Seq(odd -> "ok"))
    assert(Verify.parseManifest(java.nio.file.Files.readString(
      java.nio.file.Paths.get(s"$dir/manifest.json"))) == Map(odd -> "ok"))
  }

  test("parseManifest degrades to empty on garbage, never throws") {
    assert(Verify.parseManifest("") == Map.empty)
    assert(Verify.parseManifest("{\"truncated\": \"o") == Map.empty)
    assert(Verify.parseManifest("not json at all") == Map.empty)
    // a value that is not a status string
    assert(Verify.parseManifest("{\"k\": 12}") == Map.empty)
  }

  test("parseManifest returns promptly on colon-less input") {
    // the flat-JSON parser this reader replaced once looped forever here
    val t = new Thread(() => assert(Verify.parseManifest("{\"k\" \"v\"}") == Map.empty))
    t.setDaemon(true); t.start(); t.join(5000)
    assert(!t.isAlive, "parseManifest hung on colon-less input")
  }

  test("manifest merge: children extend, later statuses win") {
    val dir = SparkSpec.scratch("manifest_merge")
    // simulate tranche-0 child writes, a parent "died" mark, then a rerun
    Verify.mergeManifest(dir, Seq("qa" -> "ok", "qb" -> "ok"))
    Verify.mergeManifest(dir, Seq("qc" -> "died"))
    Verify.mergeManifest(dir, Seq("qc" -> "ok")) // rerun: status replaced
    val m = Verify.parseManifest(java.nio.file.Files.readString(
      java.nio.file.Paths.get(s"$dir/manifest.json")))
    assert(m == Map("qa" -> "ok", "qb" -> "ok", "qc" -> "ok"))
  }
}
