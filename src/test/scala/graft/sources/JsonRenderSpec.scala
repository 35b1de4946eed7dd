package graft.sources

import org.scalatest.funsuite.AnyFunSuite

/** `Json.render`'s bytes are persisted (`OplogOffset.json` in Spark's
  * offset log), so they are pinned: literally for the edge cases, and
  * against the reference renderer below (the one-allocation-per-char form
  * the one-`StringBuilder` loop replaced) over random values. */
class JsonRenderSpec extends AnyFunSuite {

  private object Reference {
    def render(v: Any): String = v match {
      case null            => "null"
      case m: Map[_, _]    =>
        m.asInstanceOf[Map[String, Any]].toSeq.sortBy(_._1)
          .map { case (k, vv) => s"${renderString(k)}:${render(vv)}" }
          .mkString("{", ",", "}")
      case xs: Seq[_]      => xs.map(render).mkString("[", ",", "]")
      case s: String       => renderString(s)
      case b: Boolean      => b.toString
      case n: Long         => n.toString
      case n: Int          => n.toString
      case d: Double       => if (d == d.floor && !d.isInfinite) d.toLong.toString else d.toString
      case other           => renderString(other.toString)
    }

    def renderString(s: String): String =
      "\"" + s.flatMap {
        case '"'  => "\\\""
        case '\\' => "\\\\"
        case '\n' => "\\n"
        case '\r' => "\\r"
        case '\t' => "\\t"
        case c if c < ' ' => f"\\u${c.toInt}%04x"
        case c => c.toString
      } + "\""
  }

  test("escapes, control chars, nested sorted maps and doubles render as before") {
    val cases: Seq[(Any, String)] = Seq(
      "plain" -> "\"plain\"",
      "q\"b\\s/" -> "\"q\\\"b\\\\s/\"",
      "n\nr\rt\t" -> "\"n\\nr\\rt\\t\"",
      "\u0000\u0001\u001f\b\f\u007f" -> "\"\\u0000\\u0001\\u001f\\u0008\\u000c\u007f\"",
      "é€\ud83d\ude00" -> "\"é€\ud83d\ude00\"",
      "" -> "\"\"",
      2.0 -> "2",
      1.5e-7 -> "1.5E-7",
      -0.0 -> "0",
      Double.NaN -> "NaN",
      Double.PositiveInfinity -> "Infinity",
      1e20 -> Long.MaxValue.toString,
      -3L -> "-3",
      7 -> "7",
      true -> "true",
      (null: Any) -> "null",
      Seq(1L, "a", Seq.empty, Map.empty) -> "[1,\"a\",[],{}]",
      Map("b" -> Map("z" -> 1L, "a" -> Seq(2.5, null)), "a\n" -> false, "B" -> 'c') ->
        "{\"B\":\"c\",\"a\\n\":false,\"b\":{\"a\":[2.5,null],\"z\":1}}")
    cases.foreach { case (v, expected) =>
      assert(Json.render(v) == expected, s"render($v)")
      assert(Reference.render(v) == expected, s"reference render($v)")
    }
    assert(Json.renderString("a\u0002\"") == Reference.renderString("a\u0002\""))
  }

  test("random values render byte-identically to the reference renderer") {
    val rnd = new scala.util.Random(20261019L)
    val alphabet = "ab\"\\\n\r\t\u0000\u0007\u001f é/{}:,"
    def str(): String = Seq.fill(rnd.nextInt(8))(alphabet(rnd.nextInt(alphabet.length))).mkString
    def value(depth: Int): Any = rnd.nextInt(if (depth > 2) 6 else 8) match {
      case 0 => str()
      case 1 => rnd.nextLong()
      case 2 => rnd.nextInt()
      case 3 => Seq(rnd.nextDouble() * 1e6, rnd.nextInt(100).toDouble, -rnd.nextDouble() * 1e-9,
        -0.0, Double.NaN)(rnd.nextInt(5))
      case 4 => rnd.nextBoolean()
      case 5 => null
      case 6 => Seq.fill(rnd.nextInt(4))(value(depth + 1))
      case _ => Seq.fill(rnd.nextInt(4))(str() -> value(depth + 1)).toMap
    }
    (1 to 2000).foreach { _ =>
      val v = value(0)
      assert(Json.render(v) == Reference.render(v), s"render($v)")
    }
  }

  test("parse reads rendered strings back, with and without escapes") {
    Seq("plain", "", "q\"b\\s", "n\nr\rt\t\u0001", "mixed \"x\" then plain tail").foreach { s =>
      assert(Json.parse(Json.renderString(s)) == s)
      assert(Json.parseObject(Json.render(Map(s -> s))) == Map(s -> s))
    }
    assert(Json.parse("\"\\u0041b\"") == "Ab")
  }
}
