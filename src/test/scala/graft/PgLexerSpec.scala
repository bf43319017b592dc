package graft

import graft.plans.{DollarParams, OnlyRewrite, PgLexer}
import org.scalatest.funsuite.AnyFunSuite
import scala.util.Random

/** [[graft.plans.PgLexer]] and the passes over statement text built on
  * it. The generated test places every rewrite trigger inside string
  * literals, comments and quoted identifiers next to the same trigger
  * used as syntax: the placed bytes must come through the text passes
  * unchanged (a `"…"` identifier only takes its backtick form) while
  * the syntax is still rewritten.
  */
class PgLexerSpec extends AnyFunSuite {

  /** Every text pass a statement meets: the dialect chain, then the
    * `$N` splice of EXECUTE and the `FROM ONLY` mapping of the router.
    */
  private def passes(sql: String): String =
    OnlyRewrite.rewrite(DollarParams.bind(QueryDef.pgRewrite(sql), Seq("42")))

  /** (trigger, select item using it as syntax, FROM clause). */
  private val triggers = Seq(
    ("~", "a ~ 'x'", "FROM tab"),
    ("!~*", "a !~* 'x'", "FROM tab"),
    ("->>", "j ->> 'k'", "FROM tab"),
    ("#>", "j #> '{a}'", "FROM tab"),
    ("::int4", "a::int4", "FROM tab"),
    ("\"", "\"col\"", "FROM tab"),
    ("COLLATE", "a COLLATE \"C\"", "FROM tab"),
    ("= ANY (", "a = ANY (SELECT 1)", "FROM tab"),
    ("ARRAY[", "ARRAY[1, 2]", "FROM tab"),
    ("SIMILAR TO", "a SIMILAR TO 'x%'", "FROM tab"),
    ("ONLY", "a", "FROM ONLY tab"),
    ("map_type.extract", "map_type.extract(m, 'k')", "FROM tab"),
    ("ROW(", "ROW(a, b) < ROW(1, 2)", "FROM tab"),
    ("SUBSTRING(", "SUBSTRING(a FROM 'x(y)')", "FROM tab"),
    ("$1", "a + $1", "FROM tab"))

  /** (placement name, the trigger placed, the bytes expected out). */
  private val placements: Seq[(String, String => (String, String))] = Seq(
    ("'' literal", t => { val s = s"'it''s $t x'"; (s, s) }),
    ("\\' literal", t => { val s = s"'it\\'s $t x'"; (s, s) }),
    ("-- comment", t => { val s = s"-- $t\n 0"; (s, s) }),
    ("/* */ comment", t => { val s = s"/* $t */ 0"; (s, s) }),
    ("\"\" identifier", t =>
      (s"\"x\"\" ${t.replace("\"", "\"\"")} y\"", s"`x\" $t y`")),
    ("`` identifier", t => { val s = s"`x`` $t y`"; (s, s) }))

  private val Ph = "__placed__"

  /** Checks `placed` survives next to `item … from` and that the
    * syntax around it is rewritten exactly as without it.
    */
  private def check(placed: Seq[(String, String)], item: String,
      from: String): Unit = {
    def stmt(ps: Seq[String]) =
      ps.zipWithIndex.map { case (p, i) => s"$p AS p$i, " }.mkString(
        "SELECT ", "", s"$item AS c $from")
    val bare = stmt(placed.indices.map(i => s"$Ph$i"))
    val expected = placed.zipWithIndex.foldLeft(passes(bare)) {
      case (acc, ((_, out), i)) => acc.replace(s"$Ph$i", out)
    }
    assert(passes(bare) != bare, s"no rewrite fired in: $bare")
    val text = stmt(placed.map(_._1))
    assert(passes(text) == expected, s"statement: $text")
  }

  test("every trigger placed in literals, comments and quoted names " +
    "survives; the same trigger as syntax is rewritten") {
    for ((t, item, from) <- triggers; (name, place) <- placements)
      withClue(s"trigger $t in $name: ")(check(Seq(place(t)), item, from))
  }

  test("generated statements mixing several placed triggers") {
    val rnd = new Random(20261020)
    for (_ <- 1 to 200) {
      val placed = Seq.fill(1 + rnd.nextInt(4)) {
        val (t, _, _) = triggers(rnd.nextInt(triggers.size))
        placements(rnd.nextInt(placements.size))._2(t)
      }
      val (_, item, from) = triggers(rnd.nextInt(triggers.size))
      check(placed, item, from)
    }
  }

  test("quoted identifiers keep a doubled quote inside one token") {
    val ts = PgLexer.tokenize("SELECT \"a\"\"b\", `c``d` FROM t")
    assert(ts.map(_.kind).mkString == "wqoqww")
    assert(ts(1).end - ts(1).start == 6 && ts(3).end - ts(3).start == 6)
  }

  test("splitTop and topKeyword see only depth-0 syntax tokens") {
    assert(PgLexer.splitTop("a = f(x, y), b = 'p, q', c", ",") ==
      Seq("a = f(x, y)", " b = 'p, q'", " c"))
    assert(PgLexer.splitTop("", ",") == Seq(""))
    assert(PgLexer.splitTop("s = 'p=q' = x", "=") == Seq("s ", " 'p=q' ", " x"))
    assert(PgLexer.topKeyword("s = 'x where y' WHERE (a WHERE b) WHERE id = 1",
      "WHERE") == Some(("s = 'x where y' ", " (a WHERE b) WHERE id = 1")))
    assert(PgLexer.topKeyword("f(returning) -- RETURNING", "RETURNING")
      == None)
  }
}
