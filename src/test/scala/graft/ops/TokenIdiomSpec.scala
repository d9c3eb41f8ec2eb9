package graft.ops

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Pins the r18 compiled token idiom to the r1 whitespace contract:
  * `tokens(text)` = `array_remove(split(text, "\\s+"), "")` must be
  * ELEMENT-WISE equal to the original interpreted-HOF form
  * `filter(split(trim(text), "\\s+"), len > 0)` on every edge class —
  * split on `\s+` yields at most one leading and one trailing empty
  * string (interior separators are maximal runs), which array_remove
  * drops exactly like the filter did. The idiom feeds tokenCount (the
  * whole pack family, sampling caps, curation rollups, the funnel) and
  * every explode(tokens(…)) stream, so a drift here would silently
  * shift dozens of oracle hashes. `TextAnalysis.words`, the same rule
  * for the JVM kernels, is pinned to `tokens` here too.
  */
class TokenIdiomSpec extends SparkSpec {

  private val cases: Seq[String] = Seq(
    null,
    "",
    " ",
    "   ",
    "\t",
    "\n\t \r",
    "a",
    " a",
    "a ",
    "  a  ",
    "a b",
    "a  b",
    "\ta b\n",
    "a\u000bb\u000cc", // vertical tab / form feed are \\s in Java regex
    "a\u00a0b", // non-breaking space is NOT \\s — stays inside the token
    "word1\nword2\r\nword3",
    "ünïcodé  tökens　ideographic", // U+3000 is not \s in Java regex
    "trailing tab\t",
    "x")

  test("tokens(): compiled array_remove form == legacy filter-HOF form, element-wise") {
    import spark.implicits._
    val df = cases.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("id", "text")
    val rows = df.select(
      $"id", $"text",
      TextAnalysis.tokens($"text").as("now"),
      filter(split(trim($"text"), "\\s+"), tk => length(tk) > 0)
        .as("legacy"))
      .collect()
    rows.foreach { r =>
      val now = Option(r.getAs[scala.collection.Seq[String]]("now"))
        .map(_.toList).orNull
      val legacy = Option(r.getAs[scala.collection.Seq[String]]("legacy"))
        .map(_.toList).orNull
      assert(now == legacy,
        s"token drift on ${Option(r.getAs[String]("text")).map(_.replace("\n", "\\n"))}: now=$now legacy=$legacy")
    }
  }

  test("tokenCount(): matches legacy size(filter(...)) on every edge class") {
    import spark.implicits._
    val df = cases.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("id", "text")
    val rows = df.select(
      TextAnalysis.tokenCount($"text").as("now"),
      size(filter(split(trim($"text"), "\\s+"), tk => length(tk) > 0))
        .cast("long").as("legacy"))
      .collect()
    rows.foreach { r =>
      assert(r.isNullAt(0) == r.isNullAt(1) &&
        (r.isNullAt(0) || r.getLong(0) == r.getLong(1)),
        s"tokenCount drift: $r")
    }
  }

  test("lowerTokens(): compiled form == legacy filter(split(trim(lower)))" +
      " HOF form, element-wise (incl. case-fold cases)") {
    import spark.implicits._
    // lower() maps letters to letters — never to or from whitespace —
    // so the split-boundary equivalence of tokens() carries over; the
    // extra cases exercise case folding around separators and unicode
    // (dotted I, sharp s, Greek sigma — multi-char expansions never
    // introduce whitespace in String.toLowerCase semantics).
    val lowered = cases ++ Seq(
      " A\tB ", "MiXeD  CaSe", "İstanbul STRASSE ΣΊΣΥΦΟΣ", "ÁÉÍ  Ñ")
    val df = lowered.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("id", "text")
    val rows = df.select(
      $"text",
      TextAnalysis.lowerTokens($"text").as("now"),
      filter(split(trim(lower($"text")), "\\s+"), tk => length(tk) > 0)
        .as("legacy"))
      .collect()
    rows.foreach { r =>
      val now = Option(r.getAs[scala.collection.Seq[String]]("now"))
        .map(_.toList).orNull
      val legacy = Option(r.getAs[scala.collection.Seq[String]]("legacy"))
        .map(_.toList).orNull
      assert(now == legacy,
        s"lowerTokens drift on ${Option(r.getAs[String]("text")).map(_.replace("\n", "\\n"))}: now=$now legacy=$legacy")
    }
  }

  test("words(): the JVM form == tokens() element-wise; null reads as no words") {
    import spark.implicits._
    // chars ≤ U+0020 that are not \s: the \s+ split keeps them inside a
    // token, while Java's trim would strip them at either end
    val edges = cases ++ Seq(
      "\u0001a b", "a b\u0001", "\u001fa\u001f", " \u0001 ", "\u001f",
      "\u0001", "a\u0001 \u001fb", "\u0001\t\u001f")
    val rows = edges.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("id", "text")
      .select($"text", TextAnalysis.tokens($"text").as("tk"))
      .collect()
    assert(rows.length == edges.length)
    rows.foreach { r =>
      val text = r.getAs[String]("text")
      val tk = Option(r.getAs[scala.collection.Seq[String]]("tk"))
        .map(_.toList).getOrElse(Nil)
      assert(TextAnalysis.words(text).toList == tk,
        s"words drift on ${Option(text).map(_.map(_.toInt))}: " +
          s"words=${TextAnalysis.words(text).toList} tokens=$tk")
    }
    assert(TextAnalysis.words(null).isEmpty)
    assert(TextAnalysis.words("\u0001a b").toList == List("\u0001a", "b"))
  }

  test("the JVM whitespace split lives only in TextAnalysis.words") {
    val lines = graft.MainSources.lines
    val splits = lines.filter(_._2.contains(""".split("\\s+")"""))
    assert(splits.isEmpty,
      s"inline whitespace splits (use TextAnalysis.words): ${splits.map(_._1)}")
    val patterns = lines.filter(_._2.contains("""compile("\\s+")"""))
    assert(patterns.map(_._1.takeWhile(_ != ':')) ==
      List("src/main/scala/graft/ops/TextAnalysis.scala"),
      s"the \\s+ word pattern must be compiled once, for words: ${patterns.map(_._1)}")
  }
}
