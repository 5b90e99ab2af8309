package perfbench

import java.util.Locale

/** Checks that machine-read output does not depend on the default locale:
  * the emitter and the canonical value forms run under a comma-decimal
  * locale and must produce exactly what they produce under `Locale.ROOT`.
  */
object SelfTest {
  def run(): Unit = {
    val sample = scala.collection.immutable.ListMap[String, Any](
      "latency_s" -> 1234.5678, "tiny" -> 1.25e-7, "count" -> 42L, "ok" -> true,
      "name" -> "a\"b", "list" -> Seq(0.5, -2.0), "none" -> None)
    def outputs(): Seq[String] = Seq(
      Emit.json(sample),
      Canon.double(1234.5678, 12), Canon.double(0.1 + 0.2, 12), Canon.double(-1.0e-9, 9),
      Canon.row(Seq("b" -> "2", "a" -> "1")),
      Http.canonical("""{"x":1.0E7,"y":"s","z":3,"w":0.30000000000000004}"""))
    val saved = Locale.getDefault
    Locale.setDefault(Locale.ROOT)
    val root = outputs()
    Locale.setDefault(Locale.GERMANY)
    val german = try outputs() finally Locale.setDefault(saved)
    require(String.format(Locale.GERMANY, "%.1f", Double.box(1.5)) == "1,5",
      "the comma-decimal locale is not in effect")
    require(root == german, s"locale-dependent output:\n$root\n$german")
    val expected = Seq(
      """{"latency_s":1234.5678,"tiny":0.000000125,"count":42,"ok":true,"name":"a\"b","list":[0.5,-2.0],"none":null}""",
      "1234.5678", "0.3", "-0.000000001", "a=1\u001fb=2",
      "w=0.3\u001fx=10000000\u001fy=s\u001fz=3")
    root.zip(expected).foreach { case (got, want) =>
      require(got == want, s"expected $want, got $got")
    }
    println("selftest ok: emitter and canonical forms are locale-independent")
  }
}
