package graft.store

/** Lucene-style fulltext query syntax for
  * `db.index.fulltext.queryNodes` (Neo4j passes the query string to
  * Lucene, so ported call sites use this surface —
  * /root/reference/layer.go:24 exposes the raw query text):
  *
  *  - bare terms, default operator OR: `spark hash` = spark OR hash
  *  - `AND` / `OR` / `NOT` (uppercase, Lucene's convention), with
  *    NOT binding tightest, then AND, then OR/adjacency
  *  - quoted phrases: `"sort merge join"` (contiguous token match,
  *    verified on the positional postings)
  *  - trailing-star prefixes: `spar*`
  *  - parentheses for grouping
  *
  * The parser works on RAW text — each leaf's text is analyzed later
  * with the index's analyzer, so `"Hello, World"` under the standard
  * analyzer becomes the phrase [hello, world].
  */
object FulltextQuery {
  sealed trait Q
  /** raw leaf text; analysis happens index-side */
  final case class Term(text: String) extends Q
  final case class Prefix(text: String) extends Q
  final case class Phrase(text: String) extends Q
  /** `"a b"~n` — sloppy phrase: the terms must sit inside a window of
    * `slop` adjusted positions (Lucene's proximity query; a reversed
    * bigram needs slop 2, exactly as in Lucene) */
  final case class Sloppy(text: String, slop: Int) extends Q
  /** `field:term` / `field:"phrase"` / `field:pre*` — the leaf must
    * match inside that indexed property (candidates post-verified
    * against the field's own text) */
  final case class Field(field: String, q: Q) extends Q
  /** `term~` / `term~1` / `term~2` — matches every corpus term within
    * `maxEdits` Levenshtein distance (expanded against the index's
    * term dictionary; Lucene's classic fuzzy default is 2) */
  final case class Fuzzy(text: String, maxEdits: Int) extends Q
  /** `te?t` / `te*t` / `*est` — Lucene wildcard: `?` = one char,
    * `*` = any run; expanded against the term dictionary (a LEADING
    * star scans the whole dictionary — vocabulary-sized, never the
    * postings). A TRAILING-star-only pattern lexes as [[Prefix]]. */
  final case class Wildcard(pattern: String) extends Q
  /** `[a TO b]` / `{a TO b}` — Lucene term range over the dictionary
    * order; `[`/`]` inclusive, `{`/`}` exclusive, `*` = open end */
  final case class TermRange(lo: Option[String], hi: Option[String],
      incLo: Boolean, incHi: Boolean) extends Q
  /** `term^f` / `"phrase"^f` / `(group)^f` — Lucene boost: a positive
    * multiplier on the wrapped clause's score contribution (hit sets
    * are unchanged) */
  final case class Boost(q: Q, factor: Double) extends Q
  final case class And(l: Q, r: Q) extends Q
  final case class Or(l: Q, r: Q) extends Q
  final case class Not(q: Q) extends Q

  final case class ParseError(msg: String)
      extends IllegalArgumentException(msg)

  private sealed trait Tok
  private case object TAnd extends Tok
  private case object TOr extends Tok
  private case object TNot extends Tok
  private case object TLParen extends Tok
  private case object TRParen extends Tok
  private final case class TWord(w: String) extends Tok
  private final case class TPhrase(p: String) extends Tok
  private final case class TFuzzy(base: String, maxEdits: Int) extends Tok
  private final case class TSlop(n: Int) extends Tok
  private final case class TBoost(f: Double) extends Tok

  /** `^factor` suffix parsing shared by the word/fuzzy/slop branches:
    * positive finite float, Lucene's boost grammar */
  private def boostOf(s: String, whole: String): Double = {
    val f = try s.toDouble catch {
      case _: NumberFormatException => throw ParseError(
        s"boost must be a positive number, got '^$s' in '$whole'")
    }
    if (!(f > 0) || f.isInfinite) throw ParseError(
      s"boost must be a positive number, got '^$s' in '$whole'")
    f
  }

  private def lex(s: String): List[Tok] = {
    val out = List.newBuilder[Tok]
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (c.isWhitespace) i += 1
      else if (c == '(') { out += TLParen; i += 1 }
      else if (c == ')') { out += TRParen; i += 1 }
      else if (c == '"') {
        val end = s.indexOf('"', i + 1)
        if (end < 0) throw ParseError(s"unterminated phrase quote in: $s")
        out += TPhrase(s.substring(i + 1, end))
        i = end + 1
      } else {
        val start = i
        while (i < s.length && !s.charAt(i).isWhitespace &&
          s.charAt(i) != '(' && s.charAt(i) != ')' &&
          s.charAt(i) != '"') i += 1
        var w0 = s.substring(start, i)
        // a term-range bracket contains spaces (`[a TO b]`): an
        // opener without its closer extends the token through it
        if ((w0.contains('[') || w0.contains('{')) &&
            !w0.exists(c => c == ']' || c == '}')) {
          val close = s.indexWhere(c => c == ']' || c == '}', i)
          if (close < 0)
            throw ParseError(s"unterminated range bracket in: $s")
          w0 = s.substring(start, close + 1)
          i = close + 1
        }
        w0 match {
          case "AND" => out += TAnd
          case "OR" => out += TOr
          case "NOT" => out += TNot
          case w =>
            // Lucene syntax this engine does NOT serve gets a
            // TARGETED error instead of mis-lexing into a term the
            // index would silently never match
            if (w.contains("~")) {
              val cut = w.indexOf('~')
              val (base, rest0) = (w.substring(0, cut), w.substring(cut + 1))
              // a `^boost` may trail the distance/slop digits
              val bcut = rest0.indexOf('^')
              val (rest, boost) =
                if (bcut < 0) (rest0, None)
                else (rest0.substring(0, bcut),
                  Some(boostOf(rest0.substring(bcut + 1), w)))
              if (base.isEmpty) {
                // `"a b"~n` — the quote ended the previous token, so
                // the slop arrives as its own word
                if (rest.nonEmpty && rest.forall(_.isDigit) &&
                    rest.length <= 3)
                  out += TSlop(rest.toInt)
                else throw ParseError(
                  s"phrase slop must be a small integer, got '$w'")
              } else {
                // `field:term~1` lexes as a fuzzy whose base keeps the
                // field scope; the parser resolves it to Field(Fuzzy)
                val k = rest match {
                  case "" => 2 // Lucene's classic fuzzy default
                  case "1" => 1
                  case "2" => 2
                  case other => throw ParseError(
                    s"fuzzy distance must be 1 or 2, got '$other' in '$w'")
                }
                out += TFuzzy(base, k)
              }
              boost.foreach(f => out += TBoost(f))
            } else if (w.contains("^")) {
              // Lucene boost: `term^2`, `pre*^1.5`, `field:t^2`,
              // `"phrase"^3` / `(group)^3` (the quote/paren ended the
              // previous token, so the boost arrives as its own word)
              val cut = w.indexOf('^')
              val (base, f) = (w.substring(0, cut),
                boostOf(w.substring(cut + 1), w))
              if (base.nonEmpty) out += TWord(base)
              out += TBoost(f)
            } else out += TWord(w)
        }
      }
    }
    out.result()
  }

  private val RangeRe =
    """(?is)^(?:([A-Za-z0-9_]+):)?([\[{])\s*(\S+)\s+TO\s+(\S+)\s*([\]}])$""".r

  /** orExpr := andExpr ((OR | adjacency) andExpr)* — Lucene's default
    * operator is OR, so two adjacent clauses disjoin */
  def parse(s: String): Q = {
    var toks = lex(s)
    def peek: Option[Tok] = toks.headOption
    def next(): Tok = { val t = toks.head; toks = toks.tail; t }

    def leafOf(w: String): Q =
      if (w == "*" || w == "?") throw ParseError(
        "a bare wildcard matches every document — not supported")
      else if (w.contains("?") ||
          (w.contains("*") && w.indexOf('*') != w.length - 1))
        Wildcard(w)
      else if (w.length > 1 && w.endsWith("*")) Prefix(w.dropRight(1))
      else Term(w)

    // an atom followed by `^f` tokens wraps in Boost (stacked boosts
    // multiply, matching Lucene's rewrite)
    def atom(): Q = {
      var a = atom0()
      var go = true
      while (go) peek match {
        case Some(TBoost(f)) => next(); a = Boost(a, f)
        case _ => go = false
      }
      a
    }

    def atom0(): Q = next() match {
      case TLParen =>
        val q = orExpr()
        if (peek.contains(TRParen)) { next(); q }
        else throw ParseError(s"missing ')' in: $s")
      case TNot => Not(atom())
      // `field:term` / `field:pre*` / `field:"phrase"` (the quote
      // ends the word token, so the phrase arrives as the next token)
      case TWord(w) if w.contains("[") || w.contains("{") =>
        w match {
          case RangeRe(f0, ob, lo0, hi0, cb) =>
            val r = TermRange(
              if (lo0 == "*") None else Some(lo0),
              if (hi0 == "*") None else Some(hi0),
              ob == "[", cb == "]")
            if (f0 == null) r else Field(f0, r)
          case _ => throw ParseError(
            s"bad range syntax in '$w' — expected [a TO b] or {a TO b}")
        }
      case TWord(w) if w.contains(":") =>
        val cut = w.indexOf(':')
        val (f, rest) = (w.substring(0, cut), w.substring(cut + 1))
        if (f.isEmpty || !f.forall(c => c.isLetterOrDigit || c == '_'))
          throw ParseError(s"bad field name in '$w'")
        if (rest.nonEmpty) Field(f, leafOf(rest))
        else peek match {
          case Some(TPhrase(p)) =>
            next()
            peek match {
              // `field:"a b"~n` — Lucene's field-scoped proximity
              case Some(TSlop(n)) =>
                next(); Field(f, if (n == 0) Phrase(p) else Sloppy(p, n))
              case _ => Field(f, Phrase(p))
            }
          // `field:(a OR "b c")` — Lucene's grouped field scope:
          // the field distributes over every leaf of the group
          case Some(TLParen) =>
            next()
            val q = orExpr()
            if (!peek.contains(TRParen))
              throw ParseError(s"missing ')' in: $s")
            next()
            def distribute(x: Q): Q = x match {
              case t: Term => Field(f, t)
              case p: Phrase => Field(f, p)
              case p: Prefix => Field(f, p)
              case z: Fuzzy => Field(f, z)
              case z: Sloppy => Field(f, z)
              case z: Wildcard => Field(f, z)
              case z: TermRange => Field(f, z)
              case Field(_, _) => throw ParseError(
                "nested field scopes are not supported")
              case And(l, r) => And(distribute(l), distribute(r))
              case Or(l, r) => Or(distribute(l), distribute(r))
              case Not(y) => Not(distribute(y))
              case Boost(y, f) => Boost(distribute(y), f)
            }
            distribute(q)
          case _ => throw ParseError(
            s"field scope '$f:' must be followed by a term, phrase, " +
              "or (group)")
        }
      case TWord(w) => leafOf(w)
      case TPhrase(p) => peek match {
        case Some(TSlop(n)) => next(); if (n == 0) Phrase(p)
          else Sloppy(p, n)
        case _ => Phrase(p)
      }
      case TFuzzy(b, k) if b.contains(":") =>
        // `field:term~1` — field-scoped fuzzy
        val cut = b.indexOf(':')
        val (f, rest) = (b.substring(0, cut), b.substring(cut + 1))
        if (f.isEmpty || !f.forall(c => c.isLetterOrDigit || c == '_'))
          throw ParseError(s"bad field name in '$b'")
        if (rest.isEmpty) throw ParseError(
          s"field scope '$f:' must be followed by a term in '$b~$k'")
        Field(f, Fuzzy(rest, k))
      case TFuzzy(b, k) => Fuzzy(b, k)
      case t => throw ParseError(s"unexpected $t in: $s")
    }

    def andExpr(): Q = {
      var q = atom()
      while (peek.contains(TAnd)) { next(); q = And(q, atom()) }
      q
    }

    def orExpr(): Q = {
      var q = andExpr()
      var go = true
      while (go) peek match {
        case Some(TOr) => next(); q = Or(q, andExpr())
        // `a NOT b` is Lucene's MUST_NOT clause: it EXCLUDES b's
        // matches from the result (AND NOT), unlike plain adjacency
        case Some(TNot) => q = And(q, andExpr())
        case Some(t) if t != TRParen => q = Or(q, andExpr())
        case _ => go = false
      }
      q
    }

    if (toks.isEmpty) throw ParseError("empty fulltext query")
    val q = orExpr()
    if (toks.nonEmpty) throw ParseError(s"trailing tokens in: $s")
    q
  }
}
