package graft.parser

import graft.model._

/** Parser for the reference's CP-query grammar (reference README.md:62-82):
  *
  * {{{
  * SELECT time_id, offset IN_DOMAIN [d, d], [d, d]
  * FROM table.column
  * WHERE constraint(args) in [d, d] MAX|MIN [ and ... ]
  * [LIMIT [REFINED] k]
  * }}}
  *
  * `d` may be `None` for an unbounded domain side (reference: client.py:159).
  * Every rejection case of the reference's positional parser
  * (client.py:204-288 `earlyDeath`) becomes a typed [[graft.model.ParseException]].
  */
object QueryParser {

  /** Whitelisted constraint functions with arity (reference: client.py:160
    * `available_functions`), derived from [[graft.engine.ConstraintRegistry]]
    * so a function added via `ConstraintRegistry.register` is immediately
    * parseable — one source of truth, no drifting copies. */
  def availableFunctions: Map[String, Int] =
    graft.engine.ConstraintRegistry.all.map(f => f.name -> f.arity).toMap

  private val boundRe = """(?:None|[+-]?\d+)"""
  private val intervalRe = s"""\\[\\s*($boundRe)\\s*,\\s*($boundRe)\\s*\\]"""

  private def longSide(s: String): Option[Long] =
    if (s == "None") None
    else Some(s.toLongOption.getOrElse(fail(s"domain bound '$s' is out of range")))
  /** An offset side is a window length: a negative one describes a window
    * that ends before it starts. */
  private def offsetSide(s: String): Option[Long] = longSide(s).map { v =>
    if (v < 0) fail(s"offset bound '$s' is negative")
    v
  }
  private def doubleSide(s: String): Option[Double] =
    if (s == "None") None else Some(s.toDouble)

  def parse(queryText: String): QuerySpec = {
    // normalize whitespace; grammar is keyword-positional, not line-positional
    val q = queryText.replaceAll("""\s+""", " ").trim.stripSuffix(";").trim
    if (q.isEmpty) fail("empty query")

    val selectRe =
      ("""(?i)^SELECT\s+(\w+)\s*,\s*(\w+)\s+IN_DOMAIN\s+""" + intervalRe +
        """\s*,\s*""" + intervalRe +
        """\s+FROM\s+(\w+)\.(\w+)\s+WHERE\s+(.+?)(?:\s+LIMIT\s+(REFINED\s+)?(\d+))?$""").r

    q match {
      case selectRe(v1, v2, xLo, xHi, lxLo, lxHi, table, column, whereBody,
            refined, limit) =>
        // decision variables are always exactly (time_id, offset)
        // (reference: client.py:208-211)
        if (v1 != "time_id" || v2 != "offset")
          fail(s"decision variables must be 'time_id, offset'; got '$v1, $v2'")
        val constraints = parseConstraints(whereBody)
        if (constraints.isEmpty) fail("WHERE clause has no valid constraints")
        QuerySpec(
          table = table,
          column = column,
          xDomain = Domain(longSide(xLo), longSide(xHi)),
          lxDomain = Domain(offsetSide(lxLo), offsetSide(lxHi)),
          constraints = constraints,
          limit = Option(limit).map(l =>
            l.toIntOption.getOrElse(fail(s"LIMIT '$l' is out of range"))),
          refined = refined != null)
      case _ =>
        fail(
          "query does not match grammar: SELECT time_id, offset IN_DOMAIN " +
            "[d,d],[d,d] FROM table.column WHERE fn(args) in [d,d] MAX|MIN " +
            "[and ...] [LIMIT [REFINED] k]")
    }
  }

  /** `fn(args) in [a, b] MAX|MIN [and ...]` (reference: client.py:236-268). */
  private def parseConstraints(body: String): Seq[Constraint] = {
    val conRe =
      ("""(?i)^\s*(\w+)\s*\(([^)]*)\)\s+in\s+""" + intervalRe +
        """\s+(MAX|MIN)\s*$""").r
    body.split("""(?i)\s+and\s+""").toIndexedSeq.map {
      case conRe(name, args, lo, hi, target) =>
        val arity = availableFunctions.getOrElse(
          name,
          fail(s"unknown constraint function '$name'; available: " +
            availableFunctions.keys.mkString(", ")))
        val argList =
          if (args.trim.isEmpty) Seq.empty[Long]
          else args.split(",").toIndexedSeq.map { a =>
            // an argument is a lookahead or lookbehind length
            val v = a.trim.toLongOption.getOrElse(
              fail(s"non-integer argument '$a' for '$name'"))
            if (v < 0) fail(s"negative argument '$a' for '$name'")
            v
          }
        if (argList.size != arity)
          fail(s"'$name' takes $arity argument(s); got ${argList.size}")
        val t = target.toUpperCase match {
          case "MAX" => Target.Max
          case "MIN" => Target.Min
        }
        Constraint(name, argList, doubleSide(lo), doubleSide(hi), t)
      case bad => fail(s"malformed constraint '$bad'")
    }
  }

  private def fail(msg: String): Nothing = throw ParseException(msg)
}
