package graft.plans

import graft.plans.PgLexer._

/** The reference's `map_type.*` function spellings (pg_map extension,
  * README + test_map_extract.py) → the engine's native MAP functions
  * (SURVEY §1.2 stores pg_map values as Spark MapType):
  *
  *   map_type.extract(m, k)     → element_at(m, k)
  *   map_type.cardinality(m)    → cardinality(m)
  *   map_type.entries(m)        → map_entries(m)
  *
  * Token-wise (string literals and quoted identifiers never match):
  * the identifier `map_type`, an adjacent `.`, and a known function
  * name rewrite as one unit; unknown `map_type.foo` spellings pass
  * through untouched and fail analysis loudly. The `->` operator on
  * MAP columns needs no text rewrite — [[JsonArrowRewrite]] already
  * routes it to pg_json_field, whose expression dispatches on the
  * input type ([[graft.functions.JsonArrow]]).
  */
object MapTypeRewrite {

  private val names = Map(
    "EXTRACT" -> "element_at",
    "CARDINALITY" -> "cardinality",
    "ENTRIES" -> "map_entries")

  private[graft] def step(sql: String, ts: Vector[Tok]): Option[String] = {
    val hits = ts.indices.filter { i =>
      val t = ts(i)
      t.is('w', "MAP_TYPE") && i + 2 < ts.length &&
        ts(i + 1).is('o', ".") && ts(i + 1).start == t.end &&
        ts(i + 2).kind == 'w' && names.contains(ts(i + 2).up) &&
        ts(i + 2).start == ts(i + 1).end
    }
    if (hits.isEmpty) None
    else Some(splice(sql, hits.map(i =>
      (ts(i).start, ts(i + 2).end, names(ts(i + 2).up)))))
  }

  def rewrite(sql: String): String = fixpoint(sql)(step)
}
