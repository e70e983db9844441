package graft.kg

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StringType, StructField, StructType}

import Bgp.{C, TriplePattern, V}

/**
 * A tiny SPARQL front end for the [[Bgp]] layer — the string surface
 * that makes the query layer usable without constructing pattern ASTs
 * by hand. Recursive-descent over a hand-rolled tokenizer; the parsed
 * form is pinned EQUAL to the programmatic form by SparqlParserSpec and
 * the kg_sparql_parse driver gate, so the parser can never drift from
 * the engine's semantics.
 *
 * Supported fragment (deliberately the well-designed subset the Bgp
 * layer implements — a parse error beats silently wrong semantics):
 *
 * {{{
 *   query   := (PREFIX ns: <iri>)*                 (later decl wins)
 *              ( select | ASK WHERE? { group }
 *            | CONSTRUCT { triple+ } WHERE { group }
 *            | DESCRIBE (?var | <iri>)+ (WHERE? { group })? )
 *              — ns:local / :local expand to full IRIs pre-parse
 *   select  := SELECT DISTINCT? (proj+ | *) WHERE { group } modifiers
 *   proj    := ?var | ( agg ( DISTINCT? (?var | *) sepOpt ) AS ?alias )
 *   agg     := COUNT | SUM | AVG | MIN | MAX | SAMPLE | GROUP_CONCAT
 *   sepOpt  := (';' SEPARATOR = "sep")?          (GROUP_CONCAT only)
 *   group   := (triple '.'? | GRAPH (?var | <iri>) { triples }
 *              | OPTIONAL { triples (FILTER ( expr ))* }
 *              | MINUS { triples }
 *              | FILTER ( expr ) | FILTER NOT? EXISTS { triples }
 *              | BIND ( expr AS ?var ) | VALUES valuesClause
 *              | { select }                    (subquery — see below)
 *              | { triples } UNION { triples } (UNION { triples })* )*
 *              (one algebra tree per group, in text order — see GROUPS
 *               below)
 *   valuesClause := ?var { const+ } | ( ?var+ ) { ( const+ )+ }
 *   modifiers := (GROUP BY (?var | ( expr AS ?var ))+)? (HAVING ( expr ))*
 *                (ORDER BY (?var | ASC ( expr ) | DESC ( expr ))+)?
 *                (LIMIT int)? (OFFSET int)?     (LIMIT/OFFSET any order)
 *   triple  := term pred term
 *   term    := ?var | <iri> | "lit" | "lit"@lang | "lit"^^<dt>
 *            | _:label | []   (blank nodes: NON-DISTINGUISHED variables
 *              — they join across the required patterns sharing the
 *              label, never project, and are rejected outside the
 *              required group; [] takes a generated label)
 *   pred    := ?var | <iri> | <iri>+ | <iri>* | <iri>? | ^<iri>
 *            | <iri> ('|' <iri>)+ | step ('/' step)+ | a
 *            | !<iri> | !( <iri> ('|' <iri>)* )
 *            | '(' (step ('/' step)+ | <iri> ('|' <iri>)+ | step) ')'
 *              ('+' | '*' | '?')?
 *              where step := '^'? <iri>
 *              (a = rdf:type; + = transitive closure; * / ? add the
 *               zero-length path = identity over every graph node;
 *               | = alternatives; ^ = inverse; / = sequence;
 *               ! = negated property set; ONE closure operator may
 *               apply to ONE parenthesized group — (p1/p2)+, (a|b)* —
 *               deeper nesting stays out of fragment)
 *   expr    := expr || expr | expr && expr | ! expr
 *            | sum (= | != | < | <= | > | >=) sum | ?var NOT? IN ( const, ... )
 *            | sum := sum (+ | -) sum | sum (* | /) sum | - sum | ( expr )
 *            | ?var | <iri> | "lit" | "lit"@lang | "lit"^^<dt> | number
 *            | FUNC ( expr, ... ) | agg ( ... )     (aggregates in HAVING)
 *              (precedence || < && < ! < comparison < + - < * / < unary -;
 *               `!` negates a whole comparison; a parenthesized operand
 *               right after = / != stays rejected)
 * }}}
 *
 * EXPRESSIONS: FILTER and OPTIONAL conditions, BIND and GROUP BY key
 * bodies, ORDER BY keys and HAVING parse into one [[Expr]] tree. One
 * typing pass ([[typeCheck]]) gives each node its value space by SPARQL
 * 1.1 §17.3 — from the types of its operands, never from how they are
 * spelled — and one [[compile]] lowers it to a Column. The table
 * ([[Functions]] holds each function's parameters and result):
 *
 * {{{
 *   node                                      value space
 *   ?var of a triple's subject/object         its RDF term: read in the
 *                                             space its parent needs (id,
 *                                             numeric, string, temporal)
 *                                             through the nodes table
 *   ?var of a predicate / GRAPH position      raw predicate IRI
 *   BIND / aggregate-alias ?var               numeric, string or id (as
 *                                             computed)
 *   number, "n"^^xsd:integer-or-double family numeric (5 and "5"^^xsd:integer
 *                                             are one RDF term, §19.8)
 *   "d"^^xsd:date / "t"^^xsd:dateTime         date / dateTime
 *   <iri>, other literals                     id (a plain literal also reads
 *                                             as a string, an IRI as its
 *                                             raw string)
 *   + - * / ABS CEIL FLOOR ROUND STRLEN       numeric (x/0 = unbound, not
 *     YEAR..SECONDS xsd:integer xsd:double    INF; ROUND = floor(x + 0.5))
 *   STR LANG DATATYPE LCASE UCASE CONCAT      string
 *     SUBSTR STRBEFORE STRAFTER REPLACE
 *     MD5..SHA512 ENCODE_FOR_URI xsd:string
 *   comparisons, ! && ||, IN, BOUND, SAMETERM boolean
 *     STRSTARTS STRENDS CONTAINS REGEX
 *     LANGMATCHES ISIRI ISLITERAL ISBLANK
 *   COALESCE STRDT STRLANG (BIND only)        id (STRDT / STRLANG mint the
 *                                             literal's node id at runtime)
 *   IF (BIND only)                            its branches' (one kind)
 * }}}
 *
 * A comparison runs in the space of its operands (§17.3): temporal if one
 * is a date / dateTime, string if one is a string expression (= / !=
 * only), numeric if one is numeric or the operator orders, else RDF-term
 * identity (node id, or raw IRI beside a predicate variable). A variable
 * takes the space of what it is compared with; a computed BIND value is
 * not an RDF term, so it never compares by id. Arguments must fit their
 * parameter: a numeric or string read of a node variable joins its
 * `_term` struct, and a term outside the space reads NULL, so the row is
 * excluded (SPARQL's error-means-exclude); a mismatch the parser can see
 * (a number against an IRI, a date against a dateTime, a predicate IRI
 * read as a number) is rejected at parse.
 *
 * Aggregation is SPARQL 1.1 GROUP BY semantics over the hashed-id
 * fragment: COUNT / COUNT DISTINCT are id-decidable; MIN / MAX over a
 * node-position variable follow SPARQL VALUE ORDERING when the nodes
 * table is attached — numeric literals compare by value, every other
 * term sorts before them by id, and the pick returns the winning
 * term's ID (render it with [[resolveTerms]]) — and fall back to the
 * documented deterministic id pick on the edges-only overload (the two
 * coincide whenever the group holds no numeric literal). ORDER BY over
 * a node-space variable upgrades the same way (one broadcast-able term
 * join per ordered column); aliases and BIND values always sort by
 * their plain column, and an ASC / DESC expression key is numeric.
 * SAMPLE compiles to `min` (a deterministic pick where the spec allows
 * any) and GROUP_CONCAT concatenates in sorted order (the spec leaves
 * order undefined) so results are engine-independent; SUM/AVG read the
 * NUMERIC VALUE SPACE (one bindValues join per argument variable —
 * nodes-table overload required) with exact order-independent
 * decimal(28,10) accumulation, strict SPARQL error semantics (any
 * non-numeric/unbound value in the group makes the aggregate unbound)
 * and a single final cast to double. HAVING compares a COUNT / SUM / AVG
 * aggregate to a number. ORDER BY + LIMIT plan as per-partition top-k
 * (TakeOrderedAndProject), never a global sort.
 *
 * Constants are translated with the engine's node-id recipe
 * ([[Bgp.iriId]] / [[Bgp.litId]]) so a parsed constant matches the same
 * materialized edge a programmatic one does. Unbound variables make a
 * comparison NULL, which `.filter` drops — exactly SPARQL's
 * error-means-exclude FILTER semantics; test bound-ness with BOUND.
 *
 * VALUE SPACES need the D2 nodes table ([[run(edges:*,nodes:*]]
 * overload): each node variable read in one is [[Bgp.bindValues]]-joined
 * once, by the first FILTER or BIND that reads it, however many functions
 * read it. Numeric reads follow SPARQL's promotion (integer family and
 * double/float/decimal both promote to double — exact for |v| < 2^53).
 * String reads: a bare variable reads string-family literals only,
 * STR(?v) also stringifies IRIs; LANG of an IRI or STR of a bnode reads
 * NULL and the row drops. Id comparisons and RDF-term IN lists need no
 * join.
 *
 * GROUPS: each `{ ... }` parses into a SPARQL 1.1 algebra tree
 * ([[Pattern]]) by the §18.2.2 translation, element by element in text
 * order: triples, GRAPH blocks, UNIONs, VALUES and subqueries JOIN the
 * group so far (adjacent triples form one BGP), OPTIONAL LEFT-JOINs it,
 * MINUS subtracts from it and BIND EXTENDs it; FILTERs and EXISTS probes
 * are group-scoped and wrap the whole group. One evaluator runs the
 * tree with equi-joins on the shared variables, which equal SPARQL's
 * compatible-mapping joins only while no join key is unbound on either
 * side. So the validation pass rejects, at the node concerned:
 *  - an OPTIONAL or MINUS with nothing before it in its group (§18
 *    applies it to the empty solution, not to the triples after it), or
 *    with only a UNION/subquery before it;
 *  - an OPTIONAL, MINUS, probe or join that shares no variable with the
 *    rows it applies to (a cartesian product, or a no-op);
 *  - a join, OPTIONAL, EXISTS or NOT EXISTS key that may be unbound on
 *    either side — bound only under an OPTIONAL or in only some UNION
 *    branches (a NULL key drops or keeps rows SPARQL would not); a MINUS
 *    may share ONE such variable, which is SPARQL's disjoint-domain rule;
 *  - a key that is a computed value (a BIND or an aggregate alias), and
 *    a BIND reading a variable no pattern before it binds;
 *  - a UNION whose variables outside the group's triples reach another
 *    UNION, or a UNION joined with no triples to anchor it.
 * VALUES is a set-semantics selection of the rest of its join: one
 * variable is a pushed IN-filter, several a broadcast semi-join; its
 * variables must be bound by every row it selects.
 *
 * SUBQUERIES (`{ SELECT ... }` inside a group) evaluate bottom-up and
 * join the enclosing group on their shared plain variables; every
 * projected plain variable must be bound by every solution of the
 * subquery. Aggregate aliases flow out as plain VALUE columns — outer
 * FILTERs/BINDs read them directly (a COUNT alias compares numerically
 * with no extra join), and the classic aggregate-then-join shape
 * (`{ SELECT ?g (COUNT(*) AS ?n) ... GROUP BY ?g }` joined back on
 * ?g) costs the subquery's one hash-agg shuffle plus one broadcast-able
 * equi-join.
 *
 * BIND computes a PLAIN VALUE column (double for a numeric expression,
 * string for a string one) or an id-space copy (?var alone) — a pure
 * projection, never a shuffle. Bind variables can be FILTERed (numeric
 * comparisons and the string functions read them directly — no extra
 * join), projected,
 * ORDER BY'd and used as GROUP BY keys; they are NOT RDF terms, so
 * LANG/DATATYPE/ISIRI-family tests, id-space `=` against constants,
 * SUM/AVG arguments and CONSTRUCT/DESCRIBE positions reject them at
 * parse with a pointer at the right spelling. A bind over a variable
 * the row leaves unbound (unmatched OPTIONAL) is itself unbound, per
 * SPARQL's error-propagation rule.
 *
 * DESCRIBE returns the forward description of the matched/listed
 * nodes as edges-convention rows — see [[describeEdges]].
 */
object Sparql {

  private val RdfType = "http://www.w3.org/1999/02/22-rdf-syntax-ns#type"

  // ---------- tokens -------------------------------------------------------

  private sealed trait Tok
  private final case class TVar(name: String) extends Tok
  private final case class TIri(iri: String) extends Tok
  private final case class TLit(v: String, lang: Option[String], dt: Option[String]) extends Tok
  private final case class TNum(v: Long) extends Tok
  private final case class TDbl(v: String) extends Tok
  /** punctuation or UPPERCASED keyword (SELECT DISTINCT WHERE OPTIONAL
    * MINUS FILTER UNION BOUND AS GROUP BY HAVING ORDER ASC DESC LIMIT
    * OFFSET VALUES UNDEF and the aggregate names) or the bare rdf:type
    * shorthand "a". */
  private final case class TSym(s: String) extends Tok
  /** A prefixed name `ns:local` (or `ns:` in a PREFIX declaration, or
    * `:local` on the default prefix) — expanded to a [[TIri]] before
    * the body parser runs. */
  private final case class TPname(prefix: String, local: String) extends Tok
  /** A blank node in a query pattern — `_:label`, or `[]` with a
    * generated label. Compiles to a NON-DISTINGUISHED variable
    * (`_bn_label`): it joins like any variable but never projects. */
  private final case class TBnode(label: String) extends Tok

  private val Keywords = Set("PREFIX", "GRAPH",
    "SELECT", "ASK", "CONSTRUCT", "DESCRIBE", "DISTINCT", "WHERE",
    "OPTIONAL", "MINUS", "FILTER", "UNION", "BOUND", "AS", "GROUP", "BY",
    "HAVING", "ORDER", "ASC", "DESC", "LIMIT", "OFFSET", "VALUES", "UNDEF",
    "SEPARATOR", "COUNT", "MIN", "MAX", "SAMPLE", "GROUP_CONCAT", "SUM",
    "AVG", "EXISTS", "NOT", "STR", "LANG", "DATATYPE", "STRSTARTS",
    "STRENDS", "CONTAINS", "ISIRI", "ISLITERAL", "ISBLANK", "BIND",
    "CONCAT", "LCASE", "UCASE", "STRLEN", "REGEX", "COALESCE", "SUBSTR",
    "STRBEFORE", "STRAFTER", "REPLACE", "ABS", "CEIL", "FLOOR", "ROUND",
    "LANGMATCHES", "IF", "IN", "YEAR", "MONTH", "DAY", "HOURS", "MINUTES",
    "SECONDS", "MD5", "SHA1", "SHA256", "SHA384", "SHA512",
    "ENCODE_FOR_URI", "SAMETERM", "FROM", "NAMED", "BASE", "STRDT",
    "STRLANG")

  private def fail(msg: String): Nothing =
    throw new IllegalArgumentException(s"SPARQL parse error: $msg")

  private def tokenize(q: String): Vector[Tok] = {
    val out = Vector.newBuilder[Tok]
    var i = 0
    var anonBnodes = 0
    val n = q.length
    def peek(k: Int): Char = if (i + k < n) q.charAt(i + k) else '\u0000'
    while (i < n) {
      val c = q.charAt(i)
      if (c.isWhitespace) i += 1
      else if (c == '#') { while (i < n && q.charAt(i) != '\n') i += 1 }
      else if ("{}().+*;/^,-".indexOf(c) >= 0) { out += TSym(c.toString); i += 1 }
      else if (c == '=') { out += TSym("="); i += 1 }
      else if (c == '!' && peek(1) == '=') { out += TSym("!="); i += 2 }
      else if (c == '!') { out += TSym("!"); i += 1 }
      else if (c == '&' && peek(1) == '&') { out += TSym("&&"); i += 2 }
      else if (c == '|' && peek(1) == '|') { out += TSym("||"); i += 2 }
      else if (c == '|') { out += TSym("|"); i += 1 }
      else if (c == '>' && peek(1) == '=') { out += TSym(">="); i += 2 }
      else if (c == '>') { out += TSym(">"); i += 1 }
      else if (c.isDigit) {
        val s = i
        while (i < n && q.charAt(i).isDigit) i += 1
        // a '.' is the decimal point only when a digit follows — else it
        // is the triple terminator symbol
        if (i + 1 < n && q.charAt(i) == '.' && q.charAt(i + 1).isDigit) {
          i += 1
          while (i < n && q.charAt(i).isDigit) i += 1
          out += TDbl(q.substring(s, i))
        } else out += TNum(q.substring(s, i).toLong)
      } else if (c == '?' || c == '$') {
        val s = i + 1
        i += 1
        while (i < n && (q.charAt(i).isLetterOrDigit || q.charAt(i) == '_')) i += 1
        if (i == s) {
          // a bare '?' (no name following) is the zero-or-one path
          // operator, as in `<p>?`; a bare '$' is still an error
          if (c == '?') out += TSym("?")
          else fail(s"empty variable name at offset $s")
        } else {
          val name = q.substring(s, i)
          if (name.startsWith("_bn_"))
            fail(s"variable names starting with _bn_ are reserved for " +
              "blank-node compilation — rename ?" + name)
          out += TVar(name)
        }
      } else if (c == '_' && peek(1) == ':') {
        val s = i + 2
        i += 2
        while (i < n && (q.charAt(i).isLetterOrDigit || q.charAt(i) == '_')) i += 1
        if (i == s) fail("empty blank node label after '_:'")
        // explicit labels live in the "u" namespace, disjoint from the
        // generated anonymous "a" namespace of []
        out += TBnode("u" + q.substring(s, i))
      } else if (c == '[') {
        var j = i + 1
        while (j < n && q.charAt(j).isWhitespace) j += 1
        if (j < n && q.charAt(j) == ']') {
          anonBnodes += 1
          // the "a" namespace is disjoint from explicit labels ("u"):
          // SPARQL's [] is a FRESH node, never joinable with _:a1
          out += TBnode(s"a$anonBnodes")
          i = j + 1
        } else fail("'[ p o ]' property lists are not in this fragment — " +
          "only the anonymous blank node [] (use an explicit _:label)")
      } else if (c == '<') {
        // '<' is an IRI opener except in a comparison position: `<= `
        // and `< 3` can only be HAVING operators (an IRI never starts
        // with '=', whitespace or a digit)
        if (peek(1) == '=') { out += TSym("<="); i += 2 }
        else if (peek(1).isWhitespace || peek(1).isDigit) { out += TSym("<"); i += 1 }
        else {
          val s = i + 1
          while (i < n && q.charAt(i) != '>') i += 1
          if (i >= n) fail("unterminated IRI")
          out += TIri(q.substring(s, i))
          i += 1
        }
      } else if (c == '"') {
        val sb = new StringBuilder
        i += 1
        var closed = false
        while (i < n && !closed) {
          val d = q.charAt(i)
          if (d == '"') { closed = true; i += 1 }
          else if (d == '\\') {
            if (i + 1 >= n) fail("dangling escape in literal")
            q.charAt(i + 1) match {
              case '"'  => sb += '"'
              case '\\' => sb += '\\'
              case 'n'  => sb += '\n'
              case 't'  => sb += '\t'
              case 'r'  => sb += '\r'
              case e    => fail(s"unsupported escape \\$e in literal")
            }
            i += 2
          } else { sb += d; i += 1 }
        }
        if (!closed) fail("unterminated literal")
        // optional @lang or ^^<dt>
        if (i < n && q.charAt(i) == '@') {
          val s = i + 1
          i += 1
          while (i < n && (q.charAt(i).isLetterOrDigit || q.charAt(i) == '-')) i += 1
          out += TLit(sb.toString, Some(q.substring(s, i)), None)
        } else if (i + 1 < n && q.charAt(i) == '^' && q.charAt(i + 1) == '^') {
          i += 2
          if (i >= n || q.charAt(i) != '<') fail("^^ must be followed by <datatype-iri>")
          val s = i + 1
          while (i < n && q.charAt(i) != '>') i += 1
          if (i >= n) fail("unterminated datatype IRI")
          out += TLit(sb.toString, None, Some(q.substring(s, i)))
          i += 1
        } else out += TLit(sb.toString, None, None)
      } else if (c.isLetter || c == ':') {
        val s = i
        // digits allowed after the first character (SPARQL PN_PREFIX
        // permits them — `PREFIX p1:` is legal); keywords contain none,
        // so keyword matching is unaffected
        if (i < n && q.charAt(i).isLetter) i += 1
        while (i < n && (q.charAt(i).isLetterOrDigit || q.charAt(i) == '_')) i += 1
        val w = q.substring(s, i)
        if (i < n && q.charAt(i) == ':') {
          // prefixed name: ns:local, :local (default prefix) or the
          // bare ns: of a PREFIX declaration — prefix is case-sensitive
          i += 1
          val ls = i
          while (i < n && (q.charAt(i).isLetterOrDigit ||
            q.charAt(i) == '_' || q.charAt(i) == '-')) i += 1
          out += TPname(w, q.substring(ls, i))
        } else {
          val up = w.toUpperCase
          if (Keywords(up)) out += TSym(up)
          else if (w == "a") out += TSym("a")
          else if (w.isEmpty) fail(s"unexpected character ':' at offset $s")
          else fail(s"unexpected word '$w' — declare a prefix (PREFIX $w: <...>) " +
            "or use a full <iri>")
        }
      } else fail(s"unexpected character '$c' at offset $i")
    }
    out.result()
  }

  // ---------- expressions --------------------------------------------------

  /** A SPARQL 1.1 §17 expression. FILTER and OPTIONAL conditions, BIND and
    * GROUP BY key bodies, ORDER BY keys and HAVING conditions all parse
    * into this one tree ([[expression]]); [[typeCheck]] gives each node
    * its value space and [[compile]] lowers it to a Column. */
  sealed trait Expr
  final case class Var(name: String) extends Expr
  final case class Iri(iri: String) extends Expr
  /** A literal constant. A bare number is the literal it abbreviates:
    * `5` is `"5"^^xsd:integer`, `2.5` is `"2.5"^^xsd:decimal` (§19.8). */
  final case class Lit(value: String, lang: Option[String] = None,
                       dt: Option[String] = None) extends Expr
  /** An operator — `!` `&&` `||`, `=` `!=` `<` `<=` `>` `>=`, `+` `-` `*`
    * `/` (unary minus is `0 - x`), `IN` / `NOT IN` with the tested
    * variable first — or a function of [[Functions]]. */
  final case class Call(fn: String, args: Seq[Expr]) extends Expr
  /** An aggregate: a HAVING operand. */
  final case class Agg(call: AggCall) extends Expr

  /** An aggregate invocation; `arg = None` is `COUNT(*)`. SAMPLE is
    * compiled as `min` (SPARQL leaves the pick arbitrary — a
    * deterministic pick keeps results engine-independent);
    * GROUP_CONCAT concatenates in SORTED value order for the same
    * reason (SPARQL leaves the order undefined). */
  private[kg] final case class AggCall(func: String, distinct: Boolean,
                                       arg: Option[String], sep: String = " ")

  /** One SELECT projection item: a plain variable or `(AGG(...) AS ?alias)`. */
  private[kg] sealed trait Proj
  private[kg] final case class PVar(name: String) extends Proj
  private[kg] final case class PAgg(call: AggCall, alias: String) extends Proj

  private val XsdIntegerIri = "http://www.w3.org/2001/XMLSchema#integer"
  private val XsdDecimalIri = "http://www.w3.org/2001/XMLSchema#decimal"
  private val CmpOps = Set("=", "!=", "<", "<=", ">", ">=")
  private val ArithOps = Set("+", "-", "*", "/")
  private val BoolOps = Set("!", "&&", "||")

  /** Each function's parameters and result space. A parameter is a value
    * — 'n' numeric, 's' string, 'b' a condition, '*' an IF branch, 'l' a
    * plain string literal, 'f' the "i" flag, 'I' a datatype IRI — or a
    * ?variable, read as 'S' (STR: literal lexical form or IRI string), 't'
    * (RDF-term structure), 'd' (temporal value), 'x' (constructor cast),
    * 'c' (RDF-term identity), 'B' (bound-ness) or 'V' (a pattern binding).
    * After '|' come the optional parameters; a trailing '+' repeats the
    * last one. Results: 'n', 's', 'b', 'c' (a node id) or '*' (IF). */
  private val Functions: Map[String, (String, Char)] =
    Seq("STR", RdfTerm.XsdString).map(_ -> ("S", 's')).toMap ++
    Seq("LANG", "DATATYPE").map(_ -> ("t", 's')) ++
    Seq("LCASE", "UCASE", "MD5", "SHA1", "SHA256", "SHA384", "SHA512",
      "ENCODE_FOR_URI").map(_ -> ("s", 's')) ++
    Seq("STRBEFORE", "STRAFTER").map(_ -> ("ss", 's')) ++
    Seq("ABS", "CEIL", "FLOOR", "ROUND").map(_ -> ("n", 'n')) ++
    Seq("YEAR", "MONTH", "DAY", "HOURS", "MINUTES", "SECONDS").map(_ -> ("d", 'n')) ++
    Seq(XsdIntegerIri, "http://www.w3.org/2001/XMLSchema#double").map(_ -> ("x", 'n')) ++
    Seq("STRSTARTS", "STRENDS", "CONTAINS").map(_ -> ("ss", 'b')) ++
    Seq("ISIRI", "ISLITERAL", "ISBLANK").map(_ -> ("t", 'b')) ++
    Map("CONCAT" -> ("ss+", 's'), "SUBSTR" -> ("sn|n", 's'),
      "REPLACE" -> ("sll|f", 's'), "STRLEN" -> ("s", 'n'),
      "REGEX" -> ("sl|f", 'b'), "LANGMATCHES" -> ("sl", 'b'),
      "BOUND" -> ("B", 'b'), "SAMETERM" -> ("cc", 'b'),
      "IF" -> ("b**", '*'), "COALESCE" -> ("VV+", 'c'),
      "STRDT" -> ("sI", 'c'), "STRLANG" -> ("sl", 'c'))

  /** The functions that compute an RDF term or pick a branch: BIND bodies
    * (and IF branches) only. */
  private val BindOnly = Set("IF", "COALESCE", "STRDT", "STRLANG")

  /** The parameter codes of a call with `n` arguments, if `n` fits. */
  private def params(spec: String, n: Int): Option[String] = {
    val ps = spec.filter(c => c != '|' && c != '+')
    val required = if (spec.contains('|')) spec.indexOf('|') else ps.length
    if (spec.endsWith("+") && n >= ps.length) Some(ps + ps.last.toString * (n - ps.length))
    else if (n >= required && n <= ps.length) Some(ps.take(n))
    else None
  }

  // ---------- algebra ------------------------------------------------------

  /** A graph pattern of the SPARQL 1.1 algebra (§18.2). [[parse]] turns
    * each group `{ ... }` into one tree by the §18.2.2 translation, in
    * text order; [[evaluate]] runs a tree built by hand. One evaluator
    * runs every node, and one validation pass rejects, at the node it is
    * about, each shape whose equi-join plan would differ from §18's
    * compatible-mapping semantics. */
  sealed trait Pattern
  /** A basic graph pattern: the triples join on their shared variables
    * in [[Bgp.joinOrder]]'s order. `BGP(Nil)` is the empty group Z. */
  final case class BGP(triples: Seq[TriplePattern]) extends Pattern
  /** The join of `parts` on their shared variables, left to right; a
    * [[Table]] part selects the rows of the others. */
  final case class Join(parts: Seq[Pattern]) extends Pattern
  /** OPTIONAL: every `left` row, extended by each compatible `right` row
    * that satisfies `cond` (id-space, over `right`'s own variables). */
  final case class LeftJoin(left: Pattern, right: Pattern,
                            cond: Seq[Expr] = Nil) extends Pattern
  /** MINUS: the `left` rows that no `right` row agrees with on a shared
    * variable. */
  final case class Minus(left: Pattern, right: Pattern) extends Pattern
  /** UNION: the bag union of the branches; a variable a branch does not
    * bind is NULL in its rows. */
  final case class Union(branches: Seq[Pattern]) extends Pattern
  /** FILTER: the `inner` rows every condition holds on. A FILTER is
    * group-scoped, so it wraps its whole group. */
  final case class Filter(cond: Seq[Expr], inner: Pattern) extends Pattern
  /** BIND(expr AS ?v) over the rows of `inner`. */
  final case class Extend(inner: Pattern, v: String, expr: Expr) extends Pattern
  /** VALUES: inline rows of constant node ids, `null` for UNDEF. Only a
    * [[Join]] part: a set-semantics selection of the other parts' rows. */
  final case class Table(vars: Seq[String], rows: Seq[Seq[String]]) extends Pattern
  /** FILTER (NOT) EXISTS: the `inner` rows some `probe` row agrees with
    * (none does, when `negated`) on their shared variables. */
  final case class Exists(inner: Pattern, probe: Pattern, negated: Boolean) extends Pattern
  /** A nested `{ SELECT ... }`, evaluated bottom-up. */
  final case class SubSelect(query: Query) extends Pattern

  private def children(p: Pattern): Seq[Pattern] = p match {
    case BGP(_) | Table(_, _) | SubSelect(_) => Nil
    case Join(ps)          => ps
    case LeftJoin(l, r, _) => Seq(l, r)
    case Minus(l, r)       => Seq(l, r)
    case Union(bs)         => bs
    case Filter(_, i)      => Seq(i)
    case Extend(i, _, _)   => Seq(i)
    case Exists(i, pr, _)  => Seq(i, pr)
  }

  private def varsOf(ps: Seq[TriplePattern]): Set[String] =
    ps.flatMap(p => (Seq(p.subj, p.pred, p.obj) ++ p.graph)
      .collect { case V(n) => n }).toSet

  /** Variables a solution of `p` may bind (its in-scope variables). */
  private def scope(p: Pattern): Set[String] = p match {
    case BGP(ts)         => varsOf(ts)
    case Minus(l, _)     => scope(l)
    case Exists(i, _, _) => scope(i)
    case Extend(i, v, _) => scope(i) + v
    case Table(vs, _)    => vs.toSet
    case SubSelect(q)    => q.outputs.toSet
    case other           => children(other).flatMap(scope).toSet
  }

  /** Variables every solution of `p` binds: the keys an equi-join may use
    * (a NULL key never matches, where SPARQL's compatible-mapping join
    * treats an unbound variable as compatible with anything). */
  private def certain(p: Pattern): Set[String] = p match {
    case BGP(ts)           => varsOf(ts)
    case Join(ps)          => ps.flatMap(certain).toSet
    case LeftJoin(l, _, _) => certain(l)
    case Minus(l, _)       => certain(l)
    case Union(bs)         => bs.map(certain).reduce(_ & _)
    case Filter(_, i)      => certain(i)
    case Extend(i, _, _)   => certain(i)
    case Exists(i, _, _)   => certain(i)
    case Table(vs, rows)   => vs.indices.filter(i => rows.forall(_(i) != null)).map(vs).toSet
    case SubSelect(q)      => q.select.toSet // validated: bound by every solution
  }

  /** Variables the group's own triple patterns bind — the BGPs joined
    * into the group, not those under OPTIONAL, MINUS, UNION or a probe. */
  private def requiredVars(p: Pattern): Set[String] = p match {
    case BGP(ts)                  => varsOf(ts)
    case Join(ps)                 => ps.flatMap(requiredVars).toSet
    case Union(_) | Table(_, _) | SubSelect(_) => Set.empty
    case other                    => requiredVars(children(other).head)
  }

  /** Whether `p` has a row source of its own: triples, a UNION or a
    * subquery (VALUES, BIND and FILTER only act on rows). */
  private def anchored(p: Pattern): Boolean = p match {
    case BGP(ts)                 => ts.nonEmpty
    case Union(_) | SubSelect(_) => true
    case Table(_, _)             => false
    case Join(ps)                => ps.exists(anchored)
    case other                   => anchored(children(other).head)
  }

  /** Computed-value columns and their kinds: BIND variables ('n'umeric,
    * 's'tring or id-space 'c'opy) and subquery aggregate aliases
    * (COUNT/SUM/AVG numeric, GROUP_CONCAT string, MIN/MAX/SAMPLE id
    * picks). */
  private def valueKinds(p: Pattern): Map[String, Char] = p match {
    case Extend(i, v, e) => valueKinds(i) + (v -> spaceOf(e, body = true))
    case SubSelect(q) => q.projection.collect {
      case PAgg(AggCall(f, _, _, _), alias) => alias -> aggKind(f)
    }.toMap
    case other => children(other).map(valueKinds).foldLeft(Map.empty[String, Char])(_ ++ _)
  }

  /** Variables bound in PREDICATE or GRAPH position: these bind RAW IRIs
    * (the edges convention), not hashed node ids — a value space of
    * their own. A subquery contributes its pred-space projections, and a
    * BIND copy or COALESCE of pred-space variables stays in the space. */
  private def predSpace(p: Pattern): Set[String] = p match {
    case BGP(ts) => ts.flatMap(t => (t.pred +: t.graph.toSeq).collect { case V(n) => n }).toSet
    case SubSelect(q) => q.select.filter(predSpace(q.where)).toSet
    case Extend(i, v, e) =>
      val in = predSpace(i)
      e match {
        case Var(src) if in(src) => in + v
        case Call("COALESCE", vs) if vs.forall {
          case Var(src) => in(src)
          case _        => false
        } => in + v
        case _ => in
      }
    case other => children(other).flatMap(predSpace).toSet
  }

  /** Variables bound in SUBJECT/OBJECT position (hashed node ids) — the
    * complement space to [[predSpace]]. */
  private def nodeSpace(p: Pattern): Set[String] = p match {
    case BGP(ts)      => ts.flatMap(t => Seq(t.subj, t.obj).collect { case V(n) => n }).toSet
    case SubSelect(q) => q.select.filter(nodeSpace(q.where)).toSet
    case other        => children(other).flatMap(nodeSpace).toSet
  }

  /** Parsed query. `form` is SELECT, ASK, CONSTRUCT or DESCRIBE;
    * `projection` empty means `SELECT *`; `where` is the WHERE group's
    * algebra tree; `having` holds the HAVING conditions; `orderBy` pairs
    * are (key, ascending), a key being a ?variable or alias (value
    * ordering) or a numeric expression;
    * `template` holds CONSTRUCT's output triples;
    * `describeVars`/`describeIds` hold DESCRIBE's subject terms (group
    * variables / constant node ids). */
  final case class Query(projection: Seq[Proj],
                         distinct: Boolean,
                         where: Pattern,
                         groupBy: Seq[String] = Nil,
                         having: Seq[Expr] = Nil,
                         orderBy: Seq[(Expr, Boolean)] = Nil,
                         limit: Option[Long] = None,
                         offset: Option[Long] = None,
                         form: String = "SELECT",
                         template: Seq[TriplePattern] = Nil,
                         describeVars: Seq[String] = Nil,
                         describeIds: Seq[String] = Nil,
                         /** SPARQL 13.2 dataset clause: `FROM <g>`
                           * merges into the DEFAULT graph (scopes every
                           * non-GRAPH pattern), `FROM NAMED <g>` the
                           * NAMED set (scopes GRAPH patterns). Applied
                           * by pattern rewrite at run time. */
                         fromGraphs: Seq[String] = Nil,
                         fromNamed: Seq[String] = Nil) {
    /** Plain variables of the projection (empty for `SELECT *`). */
    def select: Seq[String] = projection.collect { case PVar(n) => n }
    /** Result-column names: plain variables and aggregate aliases. */
    private[Sparql] def outputs: Seq[String] =
      select ++ projection.collect { case PAgg(_, a) => a }
    /** The aggregates of the projection, then those of HAVING. */
    private[Sparql] def aggCalls: Seq[AggCall] =
      projection.collect { case PAgg(call, _) => call } ++
        having.flatMap(subExprs).collect { case Agg(call) => call }
    /** Variables aggregated in the NUMERIC value space (SUM/AVG args,
      * projected OR in HAVING) — these need [[Bgp.bindValues]] joins
      * that must SURVIVE until the aggregation step. */
    private[Sparql] def numericAggVars: Seq[String] =
      aggCalls.collect { case AggCall("SUM" | "AVG", _, Some(v), _) => v }.distinct
    /** Node-space variables picked by MIN/MAX: with the nodes overload
      * these need their `_term` struct alive at aggregation time so the
      * pick can follow SPARQL value ordering ([[termOrderKey]]). */
    private[Sparql] def minmaxAggVars: Seq[String] = {
      val ns = nodeSpace(where)
      projection.collect {
        case PAgg(AggCall("MIN" | "MAX", _, Some(v), _), _) if ns(v) => v
      }.distinct
    }
    private[Sparql] def isAggregate: Boolean =
      groupBy.nonEmpty || having.nonEmpty ||
        projection.exists(_.isInstanceOf[PAgg])
  }

  // ---------- typing and compilation ---------------------------------------

  /** What an expression may read: the computed-value kinds ('n'umeric,
    * 's'tring, id-space 'c'opy) of BIND variables and aggregate aliases,
    * the variables bound in predicate / GRAPH position (raw IRIs, which
    * includes BIND copies of them), the variables in scope, where the
    * expression stands (`ctx`, for messages) and, under HAVING, each
    * aggregate's column. */
  private final case class Env(kinds: Map[String, Char], pred: Set[String],
                               scope: Set[String] = Set.empty, ctx: String = "",
                               alias: Map[AggCall, String] = Map.empty)

  private val InOptional = "a FILTER inside OPTIONAL"

  private def aggKind(func: String): Char = func match {
    case "COUNT" | "SUM" | "AVG" => 'n'
    case "GROUP_CONCAT"          => 's'
    case _                       => 'c'
  }

  /** A node and every node under it. */
  private def subExprs(e: Expr): Seq[Expr] = e match {
    case Call(_, args) => e +: args.flatMap(subExprs)
    case _             => Seq(e)
  }

  /** The value space of a node, from the table in the header: 'n'
    * numeric, 's' string, 'd' xsd:date, 'D' xsd:dateTime, 'c' node id,
    * 'b' boolean. A constant's comes from its datatype, an operator's or
    * function's from its signature. A variable takes the space its parent
    * reads it in ('t': see [[typeCheck]]); as a BIND body (`body`) it is
    * a copy of its binding ('c'), and a plain literal is a string. */
  private def spaceOf(e: Expr, body: Boolean = false): Char = e match {
    case Var(_)                     => if (body) 'c' else 't'
    case Lit(_, None, None) if body => 's'
    case Lit(_, None, Some(dt)) if TypedLiterals.integerTypes.contains(dt) ||
                                   TypedLiterals.doubleTypes.contains(dt) => 'n'
    case Lit(_, None, Some(TypedLiterals.dateType))     => 'd'
    case Lit(_, None, Some(TypedLiterals.dateTimeType)) => 'D'
    case Iri(_) | Lit(_, _, _)      => 'c'
    case Agg(_)                     => 'n'
    case Call("IF", Seq(_, t, _))   => spaceOf(t, body = true)
    case Call(op, _) if ArithOps(op) => 'n'
    case Call(op, _) if BoolOps(op) || CmpOps(op) || op == "IN" || op == "NOT IN" => 'b'
    case Call(fn, _)                => Functions.get(fn).fold('?')(_._2)
  }

  /** §17.3's operator mapping for a comparison: the space its operands
    * meet in. A variable takes the space of what it is compared with;
    * every other operand brings its own. Temporal wins, then string (a
    * string expression, not a plain literal, selects it), then numeric (a
    * number, or an ordering operator); else the operands compare as RDF
    * terms: raw IRIs ('p') beside a predicate variable, node ids ('c'). */
  private def cmpSpace(op: String, l: Expr, r: Expr, pred: Set[String]): Char = {
    val fixed = Seq(l, r).filterNot(_.isInstanceOf[Var]).map(spaceOf(_))
    fixed.find(s => s == 'd' || s == 'D').orElse(fixed.find(_ == 's')).getOrElse(
      if ((op != "=" && op != "!=") || fixed.contains('n')) 'n'
      else if (Seq(l, r).exists { case Var(v) => pred(v); case _ => false }) 'p'
      else 'c')
  }

  /** The typing pass: checks `e` as `want` — 'b' a condition, '*' a BIND
    * body, 'n' a numeric ORDER BY key — node by node against the table in
    * the header, raises the value-space rejections, and returns the node
    * variables read through their nodes-table `_term` struct. */
  private def typeCheck(e: Expr, want: Char, env: Env): Seq[String] = {
    import env.{ctx, kinds, pred}
    val idOnly = "FILTERs inside OPTIONAL are id-space only in this fragment " +
      "(= / != / BOUND over the group's variables) — value-space conditions " +
      "belong in a subquery or the outer group"
    // a variable read as 'n' numeric, 's' string literal, 'S' STR, 't'
    // term structure, 'd' temporal, 'x' cast, 'c' id, 'i' RDF-term IN
    // list or 'B' bound-ness
    def read(v: String, how: Char): Seq[String] = {
      if (!env.scope(v)) fail(ctx match {
        case "FILTER" => s"FILTER reads ?$v, which is bound neither by the " +
          "patterns, a BIND, nor a subquery"
        case InOptional => "a FILTER inside an OPTIONAL group may only read the " +
          s"group's own variables — ${if (how == 'B') "BOUND over" else "operand"} " +
          s"?$v is bound elsewhere; move the condition to the outer group to " +
          "filter ROWS instead of conditioning the match"
        case "ORDER BY" => s"ORDER BY expression reads ?$v, which is not a " +
          "result column — order by projected variables or aggregate aliases"
        case _ => s"$ctx reads ?$v, which is bound neither by the patterns " +
          "before it, a subquery, nor an earlier BIND"
      })
      kinds.get(v).foreach { k =>
        (if (how == 'S') 's' else how) match {
          case 't' => fail(s"$ctx: ?$v is a BIND value, not an RDF term — " +
            "LANG/DATATYPE/ISIRI-family tests cannot apply to it")
          case 'c' if k != 'c' => fail(s"$ctx: ?$v is a BIND value — compare " +
            s"it in its value space (a numeric comparison, or STR(?$v) = " +
            "\"...\" for strings), not by node id")
          case 'n' if k != 'n' => fail(s"$ctx: ?$v is not a numeric BIND value")
          case 'd' => fail(s"$ctx: ?$v is a computed value, not an RDF " +
            "term — temporal comparisons read xsd:date/xsd:dateTime literals")
          case 'i' if k == 'n' => fail(s"$ctx: ?$v is a numeric BIND " +
            "value — an RDF-term IN list cannot match it; use numbers")
          case 'x' if k == 'c' => fail(s"$ctx: ?$v is an id-space BIND " +
            "copy — cast the original pattern variable instead")
          case 's' if k != 's' => fail(s"$ctx: ?$v is not a string BIND value")
          case _ => ()
        }
      }
      if (pred(v)) how match {
        case 'n' => fail(s"$ctx reads ?$v numerically, but ?$v binds " +
          "raw predicate/graph IRIs")
        case 's' => fail(s"$ctx reads ?$v as a string literal, but ?$v " +
          s"binds predicate IRIs — wrap it: STR(?$v)")
        case 't' => fail(s"$ctx applies an RDF-term test to ?$v, which " +
          "binds predicate IRIs directly (ISIRI would be vacuously true; " +
          "LANG/DATATYPE are type errors on IRIs)")
        case 'd' => fail(s"$ctx compares ?$v temporally, but ?$v binds " +
          "raw predicate/graph IRIs")
        case 'x' => fail(s"$ctx casts ?$v, but ?$v binds raw " +
          "predicate/graph IRIs — an xsd constructor cast of an IRI is " +
          "a SPARQL type error")
        // STR reads the raw IRI; id comparisons and IN lists compile raw IRIs
        case _ => ()
      }
      if ("ciB".contains(how) || kinds.contains(v) || pred(v)) Nil else Seq(v)
    }
    // one argument of `fn` as parameter `p` (see [[Functions]])
    def arg(fn: String, x: Expr, p: Char): Seq[String] = (p, x) match {
      case ('n' | 's', Var(v))            => read(v, p)
      case ('s', Lit(_, None, None))       => Nil
      case ('s', Lit(_, _, _))             => fail("string functions take PLAIN " +
        "string literals (no @lang / ^^dt) in this fragment")
      case ('n' | 's' | 'b', _) if spaceOf(x) == p => check(x)
      case ('n', _) => fail("arithmetic takes ?vars and numbers — use STRLEN(...) " +
        "for string lengths; STR/LANG/DATATYPE values are strings")
      case ('s', _) => fail("expected ?var, STR/LANG/DATATYPE/CONCAT/LCASE/UCASE(...) " +
        s"or a plain string literal, found $x")
      case ('b', _) => fail(s"expected a comparison (= != < <= > >=) in $ctx, found $x")
      case ('*', _) => body(x)
      case ('l', Lit(_, None, None)) => Nil
      case ('l', _) => fail(s"$fn takes a plain string literal there, found $x")
      case ('f', Lit("i", None, None)) => Nil
      case ('f', Lit(f, _, _)) => fail(s"unsupported $fn flags '$f' — only " +
        "\"i\" (case-insensitive) is in this fragment")
      case ('f', _) => fail(s"$fn flags must be a plain string literal, found $x")
      case ('I', Iri(RdfTerm.RdfLangString)) => fail("STRDT cannot mint " +
        "rdf:langString — a language-tagged literal needs a tag; use STRLANG")
      case ('I', Iri(_)) => Nil
      case ('I', _) => fail(s"$fn takes a datatype <iri>, found $x")
      case ('V', Var(_)) => Nil // a pattern binding: checked with the BIND
      case (_, Var(v)) => read(v, p)
      case _ => fail(s"$fn takes a ?variable, found $x")
    }
    def call(fn: String, args: Seq[Expr]): Seq[String] = {
      val (spec, _) = Functions.getOrElse(fn, fail(s"unknown function $fn"))
      val ps = params(spec, args.size).getOrElse(fail(
        if (spec.endsWith("+")) s"$fn takes at least two " +
          (if (fn == "COALESCE") "?variables" else "arguments")
        else s"$fn does not take ${args.size} argument(s)"))
      val terms = args.zip(ps).flatMap { case (a, p) => arg(fn, a, p) }
      if (fn == "SAMETERM") (args: @unchecked) match {
        case Seq(Var(a), Var(b)) if pred(a) != pred(b) =>
          fail(s"$ctx: SAMETERM(?$a, ?$b) compares across value spaces — " +
            "one binds raw predicate IRIs, the other hashed node ids, so " +
            "the test is silently constant")
        case _ => ()
      }
      terms
    }
    // a BIND body (or IF branch): a copy, a computed RDF term, or a value
    def body(x: Expr): Seq[String] = x match {
      case Var(_) => Nil // a copy: checked with the BIND
      case Call("IF", args @ Seq(_, t, f)) =>
        val terms = call("IF", args)
        if (spaceOf(t, body = true) != spaceOf(f, body = true))
          fail("IF branches in BIND mix value kinds — both must be numeric, " +
            "both string, or both id-space bindings")
        terms
      case Call(fn, args) if BindOnly(fn) => call(fn, args)
      case Lit(_, None, _) if "sn".contains(spaceOf(x, body = true)) => Nil
      case Lit(_, _, _) => fail("BIND string constants must be plain (no @lang / ^^dt)")
      case _ if "sn".contains(spaceOf(x)) => check(x)
      case _ => fail("expected a numeric/string expression, IF(...), " +
        s"COALESCE(...), ?var or a plain string literal in BIND, found $x")
    }
    def check(x: Expr): Seq[String] = x match {
      case Var(_) | Iri(_) | Lit(_, _, _) => Nil // read by the parent
      case Agg(call) =>
        if (ctx != "HAVING") fail(s"aggregates are only allowed in SELECT and " +
          s"HAVING, found ${call.func} in $ctx")
        if (aggKind(call.func) != 'n')
          fail(s"HAVING supports COUNT/SUM/AVG comparisons only — ${call.func} " +
            "yields an id/string value; filter those with FILTER before aggregation")
        Nil
      case Call(op, _) if ctx == InOptional &&
          !(BoolOps(op) || op == "=" || op == "!=" || op == "BOUND") => fail(idOnly)
      case Call(op, _) if ctx == "HAVING" && !(BoolOps(op) || CmpOps(op)) =>
        fail(s"HAVING compares an aggregate to a number, found $x")
      case Call(op, args) if BoolOps(op) => args.flatMap(arg(op, _, 'b'))
      case Call(op, Seq(l, r)) if CmpOps(op) =>
        // HAVING: an aggregate against a (negated) number
        def number(n: Expr): Boolean = n match {
          case Call("-", Seq(Lit("0", None, Some(XsdIntegerIri)), m)) => number(m)
          case _ => n.isInstanceOf[Lit] && spaceOf(n) == 'n'
        }
        if (ctx == "HAVING") (l, r) match {
          case (Agg(_), n) if number(n) => ()
          case (Agg(_), n) => fail(s"HAVING compares an aggregate to a number, found $n")
          case _ => fail("expected an aggregate (COUNT/SUM/AVG/MIN/MAX/SAMPLE/" +
            s"GROUP_CONCAT), found $l")
        }
        val ops = Seq(l, r)
        ops.foreach(o => if (!o.isInstanceOf[Var] && spaceOf(o) == 'b')
          fail(s"a comparison takes values, found the condition $o"))
        val sp = cmpSpace(op, l, r, pred)
        if (ctx == InOptional && sp != 'c' && sp != 'p') fail(idOnly)
        sp match {
          case 'd' | 'D' =>
            if (ops.map(spaceOf(_)).exists(s => (s == 'd' || s == 'D') && s != sp))
              fail("xsd:date and xsd:dateTime do not compare in SPARQL — use one " +
                "type on both sides")
            if (!ops.forall(o => o.isInstanceOf[Var] || spaceOf(o) == sp))
              fail("temporal comparisons take ?vars and xsd:date/xsd:dateTime " +
                "typed literals")
          case 's' =>
            if (op != "=" && op != "!=")
              fail("string value-space comparisons support = / != only — string " +
                "ordering is collation-dependent and out of this fragment")
            ops.foreach {
              case Lit(_, None, None) => ()
              case Lit(_, _, _) => fail("string-space comparisons take plain " +
                "string literals (no @lang / ^^dt)")
              case o if spaceOf(o) == 'n' => fail("a string-space side cannot " +
                "compare to a number — wrap the variable (not the function) for " +
                "numeric space")
              case _ => ()
            }
          case 'n' =>
            if (!ops.forall(o => o.isInstanceOf[Var] || spaceOf(o) == 'n'))
              fail("value-space comparisons take ?vars or numbers — IRI/literal " +
                "constants compare by node id with = / != only")
          case _ => (l, r) match {
            case (Var(a), Var(b)) if pred(a) != pred(b) =>
              fail(s"$ctx compares ?$a with ?$b across value spaces — one " +
                "binds raw predicate IRIs, the other hashed node ids, so " +
                "the comparison is silently constant")
            case (Var(n), Lit(_, _, _)) if pred(n) => fail(s"$ctx compares " +
              s"predicate variable ?$n with a literal — predicates are IRIs; " +
              "compare against an <iri>")
            case (Lit(_, _, _), Var(n)) if pred(n) => fail(s"$ctx compares " +
              s"predicate variable ?$n with a literal — predicates are IRIs; " +
              "compare against an <iri>")
            case _ => ()
          }
        }
        val how = sp match {
          case 'd' | 'D' => 'd'
          case 'p'       => 'c'
          case s         => s
        }
        ops.flatMap {
          case Var(v) => read(v, how)
          case o      => if (ctx == "HAVING" && !o.isInstanceOf[Agg]) Nil else check(o)
        }
      case Call(op, Seq(a, b)) if ArithOps(op) => arg(op, a, 'n') ++ arg(op, b, 'n')
      case Call(op @ ("IN" | "NOT IN"), left +: items) =>
        val v = left match {
          case Var(n) => n
          case other  => fail(s"IN takes a ?variable on the left, found $other")
        }
        if (items.isEmpty || !items.forall(i => i.isInstanceOf[Iri] || i.isInstanceOf[Lit]))
          fail("IN lists take constants (IRIs, literals, numbers)")
        val numbers = items.count(spaceOf(_) == 'n')
        if (numbers != 0 && numbers != items.size)
          fail("an IN list mixes numbers with RDF terms — use one value space")
        if (numbers > 0) read(v, 'n')
        else {
          if (pred(v) && !items.forall(_.isInstanceOf[Iri]))
            fail(s"$ctx: ?$v binds raw predicate/graph IRIs — its IN list " +
              "must contain <iri>s only")
          if (kinds.get(v).contains('s')) items.foreach {
            case Lit(_, None, None) => ()
            case other => fail(s"a string BIND IN-list takes plain string " +
              s"literals, found $other")
          }
          read(v, 'i')
        }
      case Call(fn, _) if BindOnly(fn) =>
        fail(s"$fn(...) is a BIND body in this fragment, not an operand in $ctx")
      case Call(fn, args) => call(fn, args)
    }
    want match {
      case '*' => body(e)
      case 'n' if spaceOf(e) != 'n' && !e.isInstanceOf[Var] =>
        fail(s"ORDER BY takes ?vars and numeric expressions in this fragment, found $e")
      case p   => arg("", e, p)
    }
  }

  /** The numeric value of a `_term` struct, with SPARQL's promotion: the
    * integer family and double/float/decimal both read as double (exact
    * for |v| < 2^53); everything else is NULL (excluded). */
  private def termNum(term: Column): Column =
    coalesce(TypedLiterals.asLong(term).cast("double"), TypedLiterals.asDouble(term))

  /** Lowers a type-checked expression to a Column. `as` is the space a
    * variable or constant is read in — its parent's operand space ('t'
    * never reaches here); every other node computes its own. Arithmetic
    * is IEEE double (bit-deterministic cross-engine) EXCEPT division by
    * zero, which is NULL -> excluded (a / nullif(b, 0) in other engines),
    * deliberately not xsd:double's INF: signed-infinity rendering is not
    * deterministic across engines, and ANSI Spark would throw mid-job. */
  private def compile(e: Expr, as: Char, env: Env): Column = {
    def c(x: Expr, a: Char): Column = compile(x, a, env)
    def term(v: String): Column = col(s"${v}_term")
    def cmp(op: String, a: Column, b: Column): Column = op match {
      case "="  => a === b
      case "!=" => a =!= b
      case "<"  => a < b
      case "<=" => a <= b
      case ">"  => a > b
      case ">=" => a >= b
    }
    e match {
      // a computed value, a predicate IRI or a node id: the column itself
      case Var(v) if env.kinds.contains(v) || "cp".contains(as) => col(v)
      case Var(v) => as match {
        case 'n' => termNum(term(v))
        // a bare variable reads string-family literals only: a string
        // function applied to an IRI or a number is a SPARQL type error
        case 's' => when(term(v)("kind") === RdfTerm.LITERAL &&
          term(v)("dt").isin(RdfTerm.XsdString, RdfTerm.RdfLangString), term(v)("value"))
        case 'd' => TypedLiterals.asDate(term(v))
        case 'D' => TypedLiterals.asTimestamp(term(v))
      }
      case Iri(iri) => lit(if (as == 'c') Bgp.iriId(iri) else iri)
      case Lit(v, lang, dt) => as match {
        case 'n' if TypedLiterals.integerTypes.contains(dt.get) =>
          lit(v).try_cast("long").cast("double")
        case 'n' => lit(v).try_cast("double")
        case 's' => lit(v)
        case 'd' => lit(v).try_cast("date")
        case 'D' => lit(v).try_cast("timestamp")
        case _   => lit(Bgp.litId(v, dt.getOrElse(RdfTerm.XsdString), lang))
      }
      case Agg(call)              => col(env.alias(call))
      case Call("!", Seq(x))      => !c(x, 'b')
      case Call("&&", Seq(a, b))  => c(a, 'b') && c(b, 'b')
      case Call("||", Seq(a, b))  => c(a, 'b') || c(b, 'b')
      case Call(op, Seq(l, r)) if CmpOps(op) =>
        val sp = cmpSpace(op, l, r, env.pred)
        cmp(op, c(l, sp), c(r, sp))
      case Call(op, Seq(l, r)) if ArithOps(op) =>
        val (a, b) = (c(l, 'n'), c(r, 'n'))
        op match {
          case "+" => a + b
          case "-" => a - b
          case "*" => a * b
          case "/" => try_divide(a, b)
        }
      case Call(op @ ("IN" | "NOT IN"), (x @ Var(v)) +: items) =>
        val sp =
          if (items.forall(spaceOf(_) == 'n')) 'n'
          else if (env.kinds.get(v).contains('s')) 's'
          else if (env.pred(v)) 'p'
          else 'c'
        val in = c(x, sp).isin(items.map(c(_, sp)): _*)
        if (op == "IN") in else !in
      case Call("STR" | RdfTerm.XsdString, Seq(Var(v))) =>
        // a string BIND value or a predicate variable's raw IRI as it is
        if (env.kinds.contains(v) || env.pred(v)) col(v)
        else when(term(v)("kind") === RdfTerm.IRI || term(v)("kind") === RdfTerm.LITERAL,
          term(v)("value"))
      case Call("LANG", Seq(Var(v))) =>
        when(term(v)("kind") === RdfTerm.LITERAL, coalesce(term(v)("lang"), lit("")))
      case Call("DATATYPE", Seq(Var(v))) =>
        when(term(v)("kind") === RdfTerm.LITERAL, term(v)("dt"))
      case Call("LCASE", Seq(a))  => lower(c(a, 's'))
      case Call("UCASE", Seq(a))  => upper(c(a, 's'))
      case Call("CONCAT", as2)    => concat(as2.map(c(_, 's')): _*)
      case Call("SUBSTR", a +: n) =>
        c(a, 's').substr(c(n.head, 'n').cast("int"),
          n.lift(1).map(c(_, 'n').cast("int")).getOrElse(lit(Int.MaxValue)))
      case Call(f @ ("STRBEFORE" | "STRAFTER"), Seq(a, b)) =>
        val (h, n) = (c(a, 's'), c(b, 's'))
        val pos = instr(h, n)
        // instr(h, "") = 1, so the spec's empty-needle cases fall out:
        // STRBEFORE(x, "") = "" (substr len 0), STRAFTER(x, "") = x;
        // '' when the needle does not occur
        val none = when(h.isNotNull && n.isNotNull, lit(""))
        if (f == "STRBEFORE") when(pos > 0, h.substr(lit(1), pos - 1)).otherwise(none)
        else when(pos > 0, h.substr(pos + length(n), lit(Int.MaxValue))).otherwise(none)
      // REPLACE / REGEX: regex, REPLACE of ALL occurrences; the "i" flag is
      // an inline (?i), the one flag both regex dialects spell identically
      case Call("REPLACE", Seq(a, Lit(p, _, _), Lit(r, _, _), flags @ _*)) =>
        regexp_replace(c(a, 's'), lit(if (flags.nonEmpty) "(?i)" + p else p), lit(r))
      case Call("REGEX", Seq(a, Lit(p, _, _), flags @ _*)) =>
        c(a, 's').rlike(if (flags.nonEmpty) "(?i)" + p else p)
      // lowercase hex digests of the UTF-8 bytes (both engines render
      // lowercase hex, so digests are cross-engine stable)
      case Call("MD5", Seq(a))    => md5(c(a, 's').cast("binary"))
      case Call("SHA1", Seq(a))   => sha1(c(a, 's').cast("binary"))
      case Call(f @ ("SHA256" | "SHA384" | "SHA512"), Seq(a)) =>
        sha2(c(a, 's').cast("binary"), f.drop(3).toInt)
      case Call("ENCODE_FOR_URI", Seq(a)) => EncodeForUri(c(a, 's'))
      case Call("STRLEN", Seq(a)) => length(c(a, 's')).cast("double")
      case Call("ABS", Seq(a))    => abs(c(a, 'n'))
      // floor/ceil return LONG in Spark — cast back so the whole numeric
      // space stays double; ROUND = floor(x + 0.5) IS xsd/SPARQL
      // round-half-toward-+INF (an engine round() is HALF_UP / HALF_EVEN)
      case Call("CEIL", Seq(a))   => ceil(c(a, 'n')).cast("double")
      case Call("FLOOR", Seq(a))  => floor(c(a, 'n')).cast("double")
      case Call("ROUND", Seq(a))  => floor(c(a, 'n') + 0.5).cast("double")
      // datetime accessors read xsd:dateTime by value and xsd:date at
      // midnight (a deliberate widening of the spec's dateTime-only
      // domain); UTC sessions make the fields deterministic
      case Call(f @ ("YEAR" | "MONTH" | "DAY" | "HOURS" | "MINUTES" | "SECONDS"),
                Seq(Var(v))) =>
        val ts = coalesce(TypedLiterals.asTimestamp(term(v)),
          TypedLiterals.asDate(term(v)).cast("timestamp"))
        (f match {
          case "YEAR"    => year(ts)
          case "MONTH"   => month(ts)
          case "DAY"     => dayofmonth(ts)
          case "HOURS"   => hour(ts)
          case "MINUTES" => minute(ts)
          case "SECONDS" => second(ts)
        }).cast("double")
      // xsd:integer / xsd:double (§17.5) read the argument's OWN
      // representation; a value outside the cast's lexical space is NULL,
      // and xsd:integer truncates toward zero via try_cast (NaN / overflow
      // excluded rather than thrown under ANSI)
      case Call(iri, Seq(Var(v))) if Functions.get(iri).exists(_._1 == "x") =>
        val base = env.kinds.get(v) match {
          case Some('n') => col(v)
          case Some(_)   => col(v).try_cast("double")
          case None =>
            coalesce(termNum(term(v)), when(term(v)("kind") === RdfTerm.LITERAL &&
              term(v)("dt").isin(RdfTerm.XsdString, RdfTerm.RdfLangString),
              term(v)("value").try_cast("double")))
        }
        if (iri == XsdIntegerIri) base.try_cast("long").cast("double") else base
      case Call(f @ ("STRSTARTS" | "STRENDS" | "CONTAINS"), Seq(a, b)) =>
        val (h, n) = (c(a, 's'), c(b, 's'))
        f match {
          case "STRSTARTS" => h.startsWith(n)
          case "STRENDS"   => h.endsWith(n)
          case "CONTAINS"  => h.contains(n)
        }
      // RFC 4647 basic filtering: "*" matches any non-empty tag, otherwise
      // a case-insensitive tag or tag-prefix ("en" matches "en-GB"); the
      // range folds with Locale.ROOT like Spark's lower()
      case Call("LANGMATCHES", Seq(a, Lit(range, _, _))) =>
        val tag = c(a, 's')
        if (range == "*") tag.isNotNull && tag =!= ""
        else {
          val r = range.toLowerCase(java.util.Locale.ROOT)
          lower(tag) === r || lower(tag).startsWith(r + "-")
        }
      case Call(f @ ("ISIRI" | "ISLITERAL" | "ISBLANK"), Seq(Var(v))) =>
        term(v)("kind") === (f match {
          case "ISIRI"     => RdfTerm.IRI
          case "ISLITERAL" => RdfTerm.LITERAL
          case "ISBLANK"   => RdfTerm.BNODE
        })
      // distinct terms have distinct ids (and predicates distinct raw IRIs)
      case Call("SAMETERM", Seq(a, b)) => c(a, 'c') === c(b, 'c')
      case Call("BOUND", Seq(Var(v)))  => col(v).isNotNull
      // a NULL condition (an unbound read) takes the ELSE branch
      case Call("IF", Seq(cond, t, f)) => when(c(cond, 'b'), c(t, as)).otherwise(c(f, as))
      case Call("COALESCE", vs)        => coalesce(vs.map(c(_, 'c')): _*)
      // STRDT / STRLANG mint the literal's node id at runtime — the
      // runtime twin of Bgp.litId: sha256 of `"value"[@lang]^^<dt>`
      case Call(f @ ("STRDT" | "STRLANG"), Seq(lex, x)) =>
        val suffix = x match {
          case Iri(dt)      => "^^<" + dt + ">"
          case Lit(t, _, _) => "@" + t + "^^<" + RdfTerm.RdfLangString + ">"
          case other        => fail(s"$f: unexpected $other")
        }
        sha2(concat(lit("\""), c(lex, 's'), lit("\"" + suffix)).cast("binary"), 256)
      case other => fail(s"unexpected expression $other")
    }
  }

  // ---------- parser -------------------------------------------------------

  private final class Cursor(toks: Vector[Tok]) {
    private var i = 0
    def peek: Option[Tok] = if (i < toks.length) Some(toks(i)) else None
    def peek2: Option[Tok] = if (i + 1 < toks.length) Some(toks(i + 1)) else None
    def next(): Tok = { val t = peekOrFail; i += 1; t }
    def peekOrFail: Tok = peek.getOrElse(fail("unexpected end of query"))
    def takeSym(s: String): Unit = next() match {
      case TSym(`s`) => ()
      case t         => fail(s"expected '$s', found $t")
    }
    def atSym(s: String): Boolean = peek.contains(TSym(s))
    def done: Boolean = i >= toks.length
  }

  /** Node-level term (subject/object position). A blank node compiles
    * to a NON-DISTINGUISHED variable (prefix `_bn_`, reserved): it
    * joins across the patterns that share its label but is excluded
    * from `SELECT *` and rejected in FILTER/BIND/projection (SPARQL
    * bnodes are not referenceable outside the pattern). */
  private def nodeTerm(c: Cursor): Bgp.TermPat = c.next() match {
    case TVar(n)           => V(n)
    case TBnode(l)         => V("_bn_" + l)
    case TIri(iri)         => C(Bgp.iriId(iri))
    case TLit(v, lang, dt) => C(Bgp.litId(v, dt.getOrElse(RdfTerm.XsdString), lang))
    case t                 => fail(s"expected a variable, IRI or literal, found $t")
  }

  /** Full SPARQL 1.1 property-path grammar (recursive):
    *   path    := pathSeq ('|' pathSeq)*          -- alternatives
    *   pathSeq := pathInv ('/' pathInv)*          -- sequence
    *   pathInv := '^'? pathElt                    -- inverse
    *   pathElt := pathPrim ('+'|'*'|'?')?         -- at most ONE mod
    *   pathPrim:= 'a' | <iri> | '!' negset | '(' path ')'
    *   negset  := '^'? <iri> | '(' '^'? <iri> ('|' '^'? <iri>)* ')'
    * Operator CHAINING without parens (`<p>*+`) stays rejected per the
    * W3C grammar — parenthesize to nest: `(<p>*)+`. [[predTerm]] keeps
    * a bare predicate as a plain constant and hands every other parsed
    * path to Bgp whole, as a [[Bgp.PathPat]]. */
  private def pathExpr(c: Cursor): Bgp.PathAst = {
    val parts = Seq.newBuilder[Bgp.PathAst]
    parts += pathSeqExpr(c)
    while (c.atSym("|")) { c.takeSym("|"); parts += pathSeqExpr(c) }
    val ps = parts.result()
    if (ps.sizeIs == 1) ps.head else Bgp.PAlternative(ps)
  }

  private def pathSeqExpr(c: Cursor): Bgp.PathAst = {
    val parts = Seq.newBuilder[Bgp.PathAst]
    parts += pathInvExpr(c)
    while (c.atSym("/")) { c.takeSym("/"); parts += pathInvExpr(c) }
    val ps = parts.result()
    if (ps.sizeIs == 1) ps.head else Bgp.PSequence(ps)
  }

  private def pathInvExpr(c: Cursor): Bgp.PathAst =
    if (c.atSym("^")) { c.takeSym("^"); Bgp.PInverse(pathEltExpr(c)) }
    else pathEltExpr(c)

  private def pathEltExpr(c: Cursor): Bgp.PathAst = {
    val prim = pathPrimExpr(c)
    val withOp =
      if (c.atSym("+")) { c.takeSym("+"); Bgp.PClosure(prim, '+') }
      else if (c.atSym("*")) { c.takeSym("*"); Bgp.PClosure(prim, '*') }
      else if (c.atSym("?")) { c.takeSym("?"); Bgp.PClosure(prim, '?') }
      else prim
    if (c.atSym("+") || c.atSym("*") || c.atSym("?"))
      fail("path closure operators cannot combine unparenthesized " +
        "(e.g. <p>*+) — parenthesize to nest: (<p>*)+")
    withOp
  }

  private def pathPrimExpr(c: Cursor): Bgp.PathAst = c.peekOrFail match {
    case TSym("a") => c.next(); Bgp.PLeaf(RdfType)
    case TIri(iri) => c.next(); Bgp.PLeaf(iri)
    case TSym("(") =>
      c.takeSym("(")
      val p = pathExpr(c)
      c.takeSym(")")
      p
    case TSym("!") =>
      // negated property set: !<p>, !^<p> or !(^?<p1>|^?<p2>|...) —
      // forward and inverse members split per SPARQL 1.1 9.1 into a
      // forward NOT-IN arm and an id-swapped NOT-IN arm
      c.takeSym("!")
      val fwd = Seq.newBuilder[String]
      val inv = Seq.newBuilder[String]
      def member(): Unit = {
        val isInv = c.atSym("^")
        if (isInv) c.takeSym("^")
        c.next() match {
          case TIri(iri)  => if (isInv) inv += iri else fwd += iri
          case TSym("a")  => if (isInv) inv += RdfType else fwd += RdfType
          case t => fail(s"negated property set members must be <iri>s or " +
            s"'a' (optionally ^-inverted), found $t")
        }
      }
      if (c.atSym("(")) {
        c.takeSym("(")
        member()
        while (c.atSym("|")) { c.takeSym("|"); member() }
        c.takeSym(")")
      } else member()
      Bgp.PNegated(fwd.result(), inv.result())
    case t => fail(s"expected a path (<iri>, ^path, path/path, path|path, " +
      s"path+/*/?, !negset, '(' path ')' or 'a'), found $t")
  }

  /** Predicate-position term: a ?variable, a bare predicate as a
    * constant (it keeps the `pred` column and a variable GRAPH), or any
    * other property path (see [[pathExpr]]). */
  private def predTerm(c: Cursor): Bgp.TermPat = c.peekOrFail match {
    case TVar(n) => c.next(); V(n)
    case _ => pathExpr(c) match {
      case Bgp.PLeaf(pr) => C(pr)
      case path          => Bgp.PathPat(path)
    }
  }

  private def triple(c: Cursor): TriplePattern = {
    val t = TriplePattern(nodeTerm(c), predTerm(c), nodeTerm(c))
    if (c.atSym(".")) c.takeSym(".")
    t
  }

  /** Triples until the closing brace (consumed). */
  private def triplesBlock(c: Cursor): Seq[TriplePattern] = {
    val out = Seq.newBuilder[TriplePattern]
    while (!c.atSym("}")) out += triple(c)
    c.takeSym("}")
    val r = out.result()
    if (r.isEmpty) fail("empty triples block")
    r
  }

  private val AggNames = Set("COUNT", "MIN", "MAX", "SAMPLE", "GROUP_CONCAT", "SUM", "AVG")

  /** One §17 expression, by the precedence ladder in the header:
    * `||` < `&&` < `!` < comparison and IN < `+ -` < `* /` < unary `-`.
    * `!` negates a whole comparison (`!?a = ?b` is `!(?a = ?b)`). */
  private def expression(c: Cursor): Expr = {
    def binary(ops: Set[String], operand: () => Expr): Expr = {
      var e = operand()
      while (c.peek.exists { case TSym(s) => ops(s); case _ => false }) {
        val op = c.next().asInstanceOf[TSym].s
        e = Call(op, Seq(e, operand()))
      }
      e
    }
    def list(): Seq[Expr] = {
      val args = Seq.newBuilder[Expr]
      c.takeSym("(")
      if (!c.atSym(")")) {
        args += or()
        while (c.atSym(",")) { c.takeSym(","); args += or() }
      }
      c.takeSym(")")
      args.result()
    }
    def or(): Expr = binary(Set("||"), () => and())
    def and(): Expr = binary(Set("&&"), () => not())
    def not(): Expr =
      if (c.atSym("!")) { c.takeSym("!"); Call("!", Seq(not())) } else rel()
    def rel(): Expr = {
      val l = add()
      c.peek match {
        case Some(TSym(op)) if CmpOps(op) =>
          c.next()
          // kept from the parser that picked a space by spelling, which
          // rejected it: a parenthesized right side after = / !=
          if ((op == "=" || op == "!=") && c.atSym("("))
            fail("a parenthesized operand after = / != is ambiguous between " +
              "the id and numeric spaces — drop the parentheses for id " +
              "equality, or start the arithmetic unparenthesized " +
              "(`?x = ?y + 1`) for the numeric space")
          Call(op, Seq(l, add()))
        case Some(TSym("IN")) => c.next(); Call("IN", l +: list())
        case Some(TSym("NOT")) if c.peek2.contains(TSym("IN")) =>
          c.next(); c.next(); Call("NOT IN", l +: list())
        case _ => l
      }
    }
    def add(): Expr = binary(Set("+", "-"), () => mul())
    def mul(): Expr = binary(Set("*", "/"), () => unary())
    def unary(): Expr =
      if (c.atSym("-")) {
        c.takeSym("-")
        Call("-", Seq(Lit("0", None, Some(XsdIntegerIri)), unary()))
      } else primary()
    def primary(): Expr = c.peekOrFail match {
      case TSym("(") => c.takeSym("("); val e = or(); c.takeSym(")"); e
      case TVar(n) => c.next(); Var(n)
      case TIri(f) if Functions.contains(f) && c.peek2.contains(TSym("(")) =>
        c.next(); Call(f, list())
      case TIri(iri) => c.next(); Iri(iri)
      case TLit(v, lang, dt) => c.next(); Lit(v, lang, dt)
      case TNum(v) => c.next(); Lit(v.toString, None, Some(XsdIntegerIri))
      case TDbl(v) => c.next(); Lit(v, None, Some(XsdDecimalIri))
      case TSym(f) if AggNames(f) => Agg(aggCall(c))
      case TSym(f) if Functions.contains(f) => c.next(); Call(f, list())
      case t => fail(s"expected an expression (?var, constant, function call " +
        s"or '('), found $t")
    }
    or()
  }

  private def varName(c: Cursor): String = c.next() match {
    case TVar(n) => n
    case t       => fail(s"expected a ?variable, found $t")
  }

  private def aggCall(c: Cursor): AggCall = {
    val f = c.next() match {
      case TSym(s) if AggNames(s) => s
      case t => fail(s"expected an aggregate (COUNT/SUM/AVG/MIN/MAX/SAMPLE/" +
        s"GROUP_CONCAT), found $t")
    }
    c.takeSym("(")
    val dist = c.atSym("DISTINCT")
    if (dist) c.takeSym("DISTINCT")
    val arg = c.next() match {
      case TVar(n)                   => Some(n)
      case TSym("*") if f == "COUNT" => None
      case t => fail(s"$f takes a ?variable${if (f == "COUNT") " or *" else ""}, found $t")
    }
    if (dist && arg.isEmpty)
      fail("COUNT(DISTINCT *) is not supported — SELECT DISTINCT the " +
        "variables instead, or COUNT(DISTINCT ?v) one of them")
    var sep = " "
    if (c.atSym(";")) {
      if (f != "GROUP_CONCAT") fail("SEPARATOR is only valid in GROUP_CONCAT")
      c.takeSym(";"); c.takeSym("SEPARATOR"); c.takeSym("=")
      sep = c.next() match {
        case TLit(v, None, None) => v
        case t                   => fail(s"SEPARATOR takes a plain string literal, found $t")
      }
    }
    c.takeSym(")")
    AggCall(f, dist, arg, sep)
  }

  /** One VALUES cell: a constant's node id, or null for UNDEF (the
    * cell is compatible with ANY binding — [[selectValues]] compiles the
    * rows holding one to a disjunctive filter). */
  private def valuesConst(c: Cursor): String = c.next() match {
    case TIri(iri)         => Bgp.iriId(iri)
    case TLit(v, lang, dt) => Bgp.litId(v, dt.getOrElse(RdfTerm.XsdString), lang)
    case TSym("UNDEF")     => null
    case t => fail(s"VALUES rows take IRI/literal constants or UNDEF, found $t")
  }

  private def valuesClause(c: Cursor): Table =
    c.peekOrFail match {
      case TVar(n) =>
        c.next()
        c.takeSym("{")
        val rows = Seq.newBuilder[Seq[String]]
        while (!c.atSym("}")) rows += Seq(valuesConst(c))
        c.takeSym("}")
        val r = rows.result()
        if (r.isEmpty) fail("empty VALUES block")
        Table(Seq(n), r)
      case TSym("(") =>
        c.takeSym("(")
        val vars = Seq.newBuilder[String]
        while (!c.atSym(")")) vars += varName(c)
        c.takeSym(")")
        val vs = vars.result()
        if (vs.isEmpty) fail("empty VALUES variable list")
        c.takeSym("{")
        val rows = Seq.newBuilder[Seq[String]]
        while (c.atSym("(")) {
          c.takeSym("(")
          rows += vs.map(_ => valuesConst(c))
          c.takeSym(")")
        }
        c.takeSym("}")
        val r = rows.result()
        if (r.isEmpty) fail("empty VALUES block")
        Table(vs, r)
      case t => fail(s"VALUES takes ?var or (?var ...), found $t")
    }

  /** §18.2.2's `Join(G, E)` with its simplification: the empty group Z
    * is the identity, and triples merge into the group's one BGP part
    * (a BGP is the join of its triples), which the join evaluates first. */
  private def joinOf(g: Pattern, e: Pattern): Pattern = (g, e) match {
    case (BGP(Nil), _)                  => e
    case (BGP(a), BGP(b))               => BGP(a ++ b)
    case (Join(BGP(a) +: rest), BGP(b)) => Join(BGP(a ++ b) +: rest)
    case (Join(ps), BGP(_))             => Join(e +: ps)
    case (Join(ps), _)                  => Join(ps :+ e)
    case (_, BGP(_))                    => Join(Seq(e, g))
    case _                              => Join(Seq(g, e))
  }

  /** Parses a group after its opening '{' (consumes the closing '}') into
    * its §18.2.2 translation. Elements apply in text order: triples,
    * GRAPH blocks, UNIONs, VALUES and subqueries join the group so far,
    * OPTIONAL left-joins it, MINUS subtracts from it, BIND extends it.
    * FILTERs and EXISTS probes are group-scoped: they wrap the whole
    * group wherever they are written. */
  private def parseGroupBody(c: Cursor): Pattern = {
    var g: Pattern = BGP(Nil)
    val filters = Seq.newBuilder[Expr]
    val probes = Seq.newBuilder[Exists]
    while (!c.atSym("}")) c.peekOrFail match {
      case TSym("UNION") =>
        fail("UNION branches must be plain { triples } blocks — start " +
          "the group with '{ triples } UNION { triples }'")
      case TSym("OPTIONAL") =>
        // OPTIONAL { triples (FILTER(expr))* } — the filters CONDITION
        // the match (SPARQL LeftJoin's third argument), restricted to
        // the group's own variables (validated)
        c.takeSym("OPTIONAL"); c.takeSym("{")
        val pats = Seq.newBuilder[TriplePattern]
        val ofs = Seq.newBuilder[Expr]
        while (!c.atSym("}")) {
          if (c.atSym("FILTER")) {
            c.takeSym("FILTER"); c.takeSym("(")
            ofs += expression(c)
            c.takeSym(")")
          } else pats += triple(c)
        }
        c.takeSym("}")
        val ps = pats.result()
        if (ps.isEmpty) fail("empty OPTIONAL group")
        g = LeftJoin(g, BGP(ps), ofs.result())
      case TSym("GRAPH") =>
        // GRAPH (?g | <iri>) { triples } — scopes/binds the quad view's
        // raw graph column; the scoped triples join the group's BGP
        c.takeSym("GRAPH")
        val gt: Bgp.TermPat = c.next() match {
          case TVar(n)   => V(n)
          case TIri(iri) => C(iri) // RAW graph IRI, like the pred column
          case t => fail(s"GRAPH takes a ?variable or an <iri>, found $t")
        }
        c.takeSym("{")
        g = joinOf(g, BGP(triplesBlock(c).map { t =>
          if (t.graph.isDefined) fail("nested GRAPH scopes are not supported")
          t.copy(graph = Some(gt))
        }))
      case TSym("MINUS") =>
        c.takeSym("MINUS"); c.takeSym("{")
        g = Minus(g, BGP(triplesBlock(c)))
      case TSym("FILTER") =>
        c.takeSym("FILTER")
        if (c.atSym("EXISTS") || c.atSym("NOT")) {
          val neg = c.atSym("NOT")
          if (neg) c.takeSym("NOT")
          c.takeSym("EXISTS"); c.takeSym("{")
          probes += Exists(BGP(Nil), BGP(triplesBlock(c)), neg)
        } else {
          c.takeSym("(")
          filters += expression(c)
          c.takeSym(")")
        }
      case TSym("BIND") =>
        c.takeSym("BIND"); c.takeSym("(")
        val b = expression(c)
        c.takeSym("AS")
        g = Extend(g, varName(c), b)
        c.takeSym(")")
      case TSym("VALUES") =>
        c.takeSym("VALUES")
        g = joinOf(g, valuesClause(c))
      case TSym("{") =>
        // nested group: a SPARQL 1.1 subquery ({ SELECT ... }) or a
        // UNION group ({ triples } UNION { triples } ...)
        c.takeSym("{")
        if (c.atSym("SELECT")) {
          c.takeSym("SELECT")
          g = joinOf(g, SubSelect(parseSelect(c, nested = true)))
        } else {
          val branches = Seq.newBuilder[Pattern]
          branches += BGP(triplesBlock(c))
          c.takeSym("UNION"); c.takeSym("{")
          branches += BGP(triplesBlock(c))
          while (c.atSym("UNION")) {
            c.takeSym("UNION"); c.takeSym("{")
            branches += BGP(triplesBlock(c))
          }
          g = joinOf(g, Union(branches.result()))
        }
      case _ => g = joinOf(g, BGP(Seq(triple(c))))
    }
    c.takeSym("}")
    val probed = probes.result().foldLeft(g)((in, pr) => pr.copy(inner = in))
    val fs = filters.result()
    if (fs.isEmpty) probed else Filter(fs, probed)
  }

  /** A token-level absoluteness test: an IRI with an RFC 3986 scheme is
    * left byte-untouched (no URI round-trip — RDF IRIs legal here may
    * not survive java.net.URI re-rendering); only scheme-less ones are
    * BASE-resolved. */
  private val SchemePrefix = "^[A-Za-z][A-Za-z0-9+.-]*:".r

  def parse(q: String): Query = {
    val toks0 = tokenize(q)
    // Prologue: PREFIX ns: <iri> and BASE <iri> headers, interleaved,
    // later declaration wins (as in SPARQL). Prefixed names are
    // expanded and relative IRIs BASE-resolved (RFC 3986, via
    // java.net.URI) HERE, so the body parser and the engine's node-id
    // hashing only ever see absolute <iri>s.
    var i = 0
    val prefixes = scala.collection.mutable.Map.empty[String, String]
    var base: Option[java.net.URI] = None
    def resolve(iri: String, what: String): String =
      if (SchemePrefix.findPrefixOf(iri).isDefined) iri
      else base match {
        // no BASE declared: a scheme-less <name> stays the opaque name,
        // the engine's long-standing convention (edges carry arbitrary
        // IRI strings) — resolution only ever applies under an explicit
        // BASE, so declaring one cannot change absolute-IRI queries
        case None => iri
        case Some(b) =>
          try b.resolve(iri).toString
          catch { case _: IllegalArgumentException =>
            fail(s"relative IRI <$iri> in $what does not resolve against " +
              s"BASE <$b>") }
      }
    var prologue = true
    while (prologue && i < toks0.length) toks0(i) match {
      case TSym("PREFIX") =>
        (toks0.lift(i + 1), toks0.lift(i + 2)) match {
          case (Some(TPname(p, "")), Some(TIri(iri))) =>
            prefixes(p) = resolve(iri, s"PREFIX $p:")
            i += 3
          case _ => fail("a PREFIX declaration is `PREFIX ns: <iri>`")
        }
      case TSym("BASE") =>
        toks0.lift(i + 1) match {
          case Some(TIri(iri)) =>
            val next =
              try base.map(_.resolve(iri)).getOrElse(java.net.URI.create(iri))
              catch { case _: IllegalArgumentException =>
                fail(s"BASE <$iri> is not a valid IRI") }
            if (!next.isAbsolute) fail(s"BASE <$iri> must be absolute " +
              "(or resolve absolutely against an earlier BASE)")
            base = Some(next)
            i += 2
          case _ => fail("a BASE declaration is `BASE <iri>`")
        }
      case _ => prologue = false
    }
    val toks = toks0.drop(i).map {
      case TPname(p, l) => TIri(prefixes.getOrElse(p,
        fail(s"undeclared prefix '$p:' — add `PREFIX $p: <...>` before the query")) + l)
      case TIri(iri) => TIri(resolve(iri, "the query body"))
      case TSym("PREFIX") =>
        fail("PREFIX declarations must precede the query form")
      case TSym("BASE") =>
        fail("BASE declarations must precede the query form")
      case t => t
    }
    val c = new Cursor(toks)
    c.peekOrFail match {
      case TSym("ASK")       => c.takeSym("ASK"); parseAsk(c)
      case TSym("CONSTRUCT") => c.takeSym("CONSTRUCT"); parseConstruct(c)
      case TSym("DESCRIBE")  => c.takeSym("DESCRIBE"); parseDescribe(c)
      case _                 => c.takeSym("SELECT"); parseSelect(c)
    }
  }

  /** `FROM <g>` / `FROM NAMED <g>` dataset clauses (repeatable, SPARQL
    * 13.2) between the query form and WHERE. */
  private def datasetClauses(c: Cursor): (Seq[String], Seq[String]) = {
    val from = Seq.newBuilder[String]
    val named = Seq.newBuilder[String]
    while (c.atSym("FROM")) {
      c.takeSym("FROM")
      val isNamed = c.atSym("NAMED")
      if (isNamed) c.takeSym("NAMED")
      c.next() match {
        case TIri(iri) => if (isNamed) named += iri else from += iri
        case t => fail(s"FROM${if (isNamed) " NAMED" else ""} takes an <iri>, found $t")
      }
    }
    (from.result().distinct, named.result().distinct)
  }

  /** `DESCRIBE (?var | <iri>)+ [WHERE { group }]` — variables need the
    * group to bind them; constants alone need no WHERE at all. */
  private def parseDescribe(c: Cursor): Query = {
    val vars = Seq.newBuilder[String]
    val ids = Seq.newBuilder[String]
    var more = true
    while (more) c.peek match {
      case Some(TVar(n))   => c.next(); vars += n
      case Some(TIri(iri)) => c.next(); ids += Bgp.iriId(iri)
      case _               => more = false
    }
    val (vs, is) = (vars.result().distinct, ids.result().distinct)
    if (vs.isEmpty && is.isEmpty)
      fail("DESCRIBE needs at least one ?var or <iri>")
    val (from, named) = datasetClauses(c)
    val g =
      if (c.atSym("WHERE") || c.atSym("{")) {
        if (c.atSym("WHERE")) c.takeSym("WHERE")
        c.takeSym("{")
        parseGroupBody(c)
      } else {
        if (vs.nonEmpty)
          fail(s"DESCRIBE ?${vs.head} needs a WHERE group to bind the variable")
        BGP(Nil)
      }
    if (!c.done) fail(s"trailing tokens after the DESCRIBE query: ${c.peekOrFail}")
    val qy = Query(Nil, distinct = false, g, form = "DESCRIBE",
      describeVars = vs, describeIds = is, fromGraphs = from, fromNamed = named)
    validate(qy)
    qy
  }

  /** `ASK [FROM ...] [WHERE] { group }` — no projection, no solution
    * modifiers. */
  private def parseAsk(c: Cursor): Query = {
    val (from, named) = datasetClauses(c)
    if (c.atSym("WHERE")) c.takeSym("WHERE")
    c.takeSym("{")
    val g = parseGroupBody(c)
    if (!c.done) fail(s"trailing tokens after the ASK group: ${c.peekOrFail}")
    val qy = Query(Nil, distinct = false, g, form = "ASK",
      fromGraphs = from, fromNamed = named)
    validate(qy)
    qy
  }

  /** `CONSTRUCT { template } WHERE { group }` — the template's variables
    * must be bound by the group; property paths are not allowed in the
    * template (it names OUTPUT edges, not matches). */
  private def parseConstruct(c: Cursor): Query = {
    c.takeSym("{")
    val template = triplesBlock(c)
    val (from, named) = datasetClauses(c)
    c.takeSym("WHERE")
    c.takeSym("{")
    val g = parseGroupBody(c)
    if (!c.done) fail(s"trailing tokens after the CONSTRUCT group: ${c.peekOrFail}")
    val qy = Query(Nil, distinct = false, g, form = "CONSTRUCT",
      template = template, fromGraphs = from, fromNamed = named)
    validate(qy)
    qy
  }

  /** SELECT body; `nested = true` parses a subquery, which ends at its
    * closing '}' (consumed) instead of at end-of-input. */
  private def parseSelect(c: Cursor, nested: Boolean = false): Query = {
    val distinct = c.atSym("DISTINCT")
    if (distinct) c.takeSym("DISTINCT")
    val projection = Seq.newBuilder[Proj]
    if (c.atSym("*")) c.takeSym("*")
    else {
      var more = true
      while (more) c.peek match {
        case Some(TVar(n)) => c.next(); projection += PVar(n)
        case Some(TSym("(")) =>
          c.takeSym("(")
          val call = aggCall(c)
          c.takeSym("AS")
          val alias = varName(c)
          c.takeSym(")")
          projection += PAgg(call, alias)
        case _ => more = false
      }
      if (projection.result().isEmpty)
        fail("SELECT needs ?vars, (AGG(...) AS ?alias) items or *")
    }
    val (from, named) = datasetClauses(c)
    if (nested && (from.nonEmpty || named.nonEmpty))
      fail("FROM / FROM NAMED is a top-level dataset clause — subqueries " +
        "inherit the outer query's dataset (SPARQL 13.2)")
    c.takeSym("WHERE")
    c.takeSym("{")
    val g = parseGroupBody(c)
    // ---- solution modifiers (SPARQL order: GROUP BY, HAVING, ORDER BY,
    // LIMIT/OFFSET in either order) --------------------------------------
    var groupBy = Seq.empty[String]
    var groupBinds = Seq.empty[(String, Expr)]
    if (c.atSym("GROUP")) {
      c.takeSym("GROUP"); c.takeSym("BY")
      val gs = Seq.newBuilder[String]
      var more = true
      while (more) c.peek match {
        case Some(TVar(n)) => c.next(); gs += n
        case Some(TSym("(")) =>
          // GROUP BY (expr AS ?v) — sugar for BIND(expr AS ?v) before
          // the grouping: the key is computed per row in the same
          // projection pass, then grouped like any BIND variable
          c.takeSym("(")
          val b = expression(c)
          c.takeSym("AS")
          val v = varName(c)
          c.takeSym(")")
          groupBinds :+= ((v, b))
          gs += v
        case _ => more = false
      }
      groupBy = gs.result()
      if (groupBy.isEmpty) fail("GROUP BY needs ?vars or (expr AS ?v) keys")
    }
    val having = Seq.newBuilder[Expr]
    while (c.atSym("HAVING")) {
      c.takeSym("HAVING"); c.takeSym("(")
      having += expression(c)
      c.takeSym(")")
    }
    var orderBy = Seq.empty[(Expr, Boolean)]
    if (c.atSym("ORDER")) {
      c.takeSym("ORDER"); c.takeSym("BY")
      val os = Seq.newBuilder[(Expr, Boolean)]
      // ASC/DESC take a ?var or any numeric expression (SPARQL
      // OrderCondition's bracketted expression)
      def key(asc: Boolean): Unit = {
        c.takeSym(if (asc) "ASC" else "DESC"); c.takeSym("(")
        os += ((expression(c), asc))
        c.takeSym(")")
      }
      var more = true
      while (more) c.peek match {
        case Some(TVar(n))      => c.next(); os += ((Var(n), true))
        case Some(TSym("ASC"))  => key(asc = true)
        case Some(TSym("DESC")) => key(asc = false)
        case _ => more = false
      }
      orderBy = os.result()
      if (orderBy.isEmpty)
        fail("ORDER BY needs ?vars or ASC(expr)/DESC(expr)")
    }
    var limit: Option[Long] = None
    var offset: Option[Long] = None
    while (c.atSym("LIMIT") || c.atSym("OFFSET")) {
      val kw = c.next() match { case TSym(s) => s; case t => fail(s"unexpected $t") }
      val n = c.next() match {
        case TNum(v) => v
        case t       => fail(s"$kw takes a non-negative integer, found $t")
      }
      if (kw == "LIMIT") {
        if (limit.isDefined) fail("duplicate LIMIT")
        limit = Some(n)
      } else {
        if (offset.isDefined) fail("duplicate OFFSET")
        offset = Some(n)
      }
    }
    if (nested) c.takeSym("}")
    else if (!c.done) fail(s"trailing tokens after the query: ${c.peekOrFail}")
    // GROUP BY (expr AS ?v) keys extend the group's solutions before
    // they are grouped (§18.2.4.1)
    val where = groupBinds.foldLeft(g) { case (p, (v, b)) => Extend(p, v, b) }
    val qy = Query(projection.result(), distinct, where, groupBy,
      having.result(), orderBy, limit, offset, fromGraphs = from,
      fromNamed = named)
    if (nested && qy.projection.isEmpty)
      fail("subqueries must project explicitly (?vars / aggregates) — " +
        "SELECT * has no statically-known output to join on")
    validate(qy)
    qy
  }

  private def fmtVars(vs: Iterable[String]): String =
    vs.toSeq.sorted.map("?" + _).mkString(", ")

  /** Blank nodes are non-distinguished variables of the required triple
    * patterns only. */
  private def checkBlankNodes(ts: Seq[TriplePattern], required: Boolean): Unit = {
    val bn = varsOf(ts).filter(_.startsWith("_bn_"))
    if (!required && bn.nonEmpty)
      fail(s"blank nodes (${bn.toSeq.sorted.mkString(", ")}) are only " +
        "supported in the required triple patterns in this fragment — " +
        "OPTIONAL/UNION/MINUS/EXISTS groups and CONSTRUCT templates take " +
        "explicit ?variables")
  }

  /** The structural checks of the validation pass, one per node. Each
    * rejects a shape whose equi-join plan would differ from §18's
    * compatible-mapping semantics — a join key that may be NULL on one
    * side, a join sharing no variable (a cartesian product), a join on a
    * computed value — or a blank node outside its basic graph pattern,
    * and type-checks each expression where it stands. `env` holds the
    * query's value kinds and predicate-space variables; `required` is
    * false under OPTIONAL, MINUS, UNION and the probes. */
  private def checkPattern(p: Pattern, env: Env, required: Boolean = true): Unit = {
    def sub(x: Pattern, req: Boolean = required): Unit = checkPattern(x, env, req)
    // OPTIONAL and MINUS act on the rows of the patterns before them
    def anchorLeft(what: String, l: Pattern): Unit =
      if (l == BGP(Nil))
        fail(s"$what has nothing before it in its group — SPARQL applies it " +
          "to the empty solution, not to the patterns written after it; " +
          "write the group's triple patterns first")
      else if (requiredVars(l).isEmpty)
        fail("OPTIONAL/MINUS need required triple patterns to anchor on — a " +
          "union- or subquery-only group supports FILTER/BIND/VALUES only")
    // MINUS and the EXISTS probes are equi-semi/anti-joins on the shared
    // variables; a NULL key never matches where SPARQL's substitution /
    // compatibility semantics leave the variable free. A MINUS whose ONLY
    // shared variable may be NULL is exactly SPARQL's disjoint-domain rule
    // (the row survives), so it stays accepted.
    def probeKeys(what: String, l: Pattern, r: Pattern, minShared: Int): Unit = {
      val shared = scope(l) & scope(r)
      if (shared.isEmpty)
        fail(s"$what group shares no variable with the rows it applies to — " +
          (if (minShared > 1) "SPARQL disjoint-domain MINUS removes nothing"
           else "a constant-truth probe") + "; this is almost always a typo'd variable")
      val computed = shared.filter(env.kinds.contains)
      if (computed.nonEmpty)
        fail(s"$what patterns cannot reference computed variable(s) " +
          s"${computed.toSeq.sorted.mkString(", ")} — the probes join on node-id columns")
      val open = shared -- certain(l)
      if (shared.size >= minShared && open.nonEmpty)
        fail(s"$what shares variable(s) ${fmtVars(open)} that may be unbound " +
          "(OPTIONAL-only or partial-union binding) — a NULL join key silently " +
          "diverges from SPARQL's semantics; anchor the variable in the required pattern")
    }
    p match {
      case BGP(ts) =>
        checkBlankNodes(ts, required)
        // the evaluator's join order: it rejects triples forming two
        // components (a cartesian product)
        if (ts.nonEmpty) Bgp.joinOrder(ts)
      case Join(parts) =>
        parts.foreach(sub(_))
        checkJoin(parts, env)
      case LeftJoin(l, r, cond) =>
        sub(l); sub(r, req = false)
        anchorLeft("OPTIONAL", l)
        val shared = scope(l) & scope(r)
        if (shared.isEmpty)
          fail("an OPTIONAL group shares no variable with the patterns " +
            "before it — an unanchored OPTIONAL is a cartesian product")
        val computed = shared.filter(env.kinds.contains)
        if (computed.nonEmpty)
          fail(s"BIND variable(s) ${fmtVars(computed)} are already bound " +
            "by the pattern group — a computed value never joins a node id")
        // its keys are the group's own triple variables: never NULL
        val open = shared -- requiredVars(l)
        if (open.nonEmpty)
          fail(s"variable(s) ${fmtVars(open)} join this OPTIONAL but the " +
            "triple patterns before it do not bind them (they are bound by two " +
            "optional groups, a UNION or a subquery) — only well-designed " +
            "patterns (each optional variable bound once) are supported")
        // the condition pre-filters the group side, which is exactly
        // LeftJoin's condition ONLY when it reads the group's OWN
        // variables, in the id space
        val own = env.copy(scope = scope(r), ctx = InOptional)
        cond.foreach(typeCheck(_, 'b', own))
      case Minus(l, r) =>
        sub(l); sub(r, req = false)
        anchorLeft("MINUS", l)
        probeKeys("MINUS", l, r, minShared = 2)
      case Exists(i, pr, neg) =>
        sub(i); sub(pr, req = false)
        probeKeys(if (neg) "FILTER NOT EXISTS" else "FILTER EXISTS", i, pr, minShared = 1)
      case Union(bs) =>
        if (bs.isEmpty) fail("empty UNION")
        bs.foreach(sub(_, req = false))
      case Filter(cond, i) =>
        sub(i)
        val in = env.copy(scope = scope(i), ctx = "FILTER")
        cond.foreach(typeCheck(_, 'b', in))
      case Extend(i, v, b) =>
        sub(i)
        checkExtend(i, v, b, env)
      case Table(vs, rows) =>
        if (vs.isEmpty || rows.isEmpty) fail("VALUES needs at least one variable and one row")
        if (!rows.forall(_.size == vs.size))
          fail(s"every VALUES row must have ${vs.size} term(s) for (${vs.mkString(", ")})")
        val pv = vs.filter(env.pred)
        if (pv.nonEmpty)
          fail(s"VALUES over predicate-position variable(s) ${fmtVars(pv)} — " +
            "inline rows hash to node ids, which never match raw predicate " +
            "IRIs; use a predicate alternative (<a>|<b>) or FILTER(?p = <a> || ?p = <b>)")
      case SubSelect(q) =>
        val open = q.select.filterNot(requiredVars(q.where))
        if (open.nonEmpty)
          fail(s"subquery-projected variable(s) ${open.mkString(", ")} " +
            "must be bound by the subquery's required pattern (not only " +
            "OPTIONAL/UNION) in this fragment")
    }
  }

  /** A join's parts evaluate left to right (VALUES tables last, as
    * selections), so each part's shared variables with the parts before
    * it are the equi-join keys: there must be one, none may be computed,
    * and each must be bound on both sides. UNIONs, subqueries and VALUES
    * join through the group's own triple patterns (`req`): a UNION's
    * other variables stay local to it. */
  private def checkJoin(parts: Seq[Pattern], env: Env): Unit = {
    val ops = parts.filterNot(_.isInstanceOf[Table])
    if (ops.isEmpty) fail("WHERE group has no required triple patterns or subqueries")
    val req = parts.flatMap(requiredVars).toSet
    val unions = ops.filter(_.isInstanceOf[Union])
    if (unions.nonEmpty && ops.sizeIs > 1 && req.isEmpty)
      fail("several UNION groups, or a UNION next to a subquery, need a " +
        "required pattern to anchor their join (the join keys would be " +
        "NULL-padded branch variables)")
    unions.combinations(2).foreach { pair =>
      val clash = (scope(pair.head) & scope(pair(1))) -- req
      if (clash.nonEmpty)
        fail(s"variable(s) ${fmtVars(clash)} are bound by two UNION groups " +
          "but not by the required pattern — join them through a required binding")
    }
    def subVars(p: Pattern) = p match {
      case SubSelect(q) => q.select.toSet
      case _            => Set.empty[String]
    }
    var (accScope, accCertain, accSubVars) = (scope(ops.head), certain(ops.head), subVars(ops.head))
    ops.tail.foreach { r =>
      val shared = accScope & scope(r)
      val computed = shared.filter(env.kinds.contains)
      if (computed.nonEmpty) fail(r match {
        case SubSelect(q) if q.outputs.exists(computed) =>
          s"subquery aggregate alias(es) ${fmtVars(computed)} collide with " +
            "outer pattern variables — rename the alias"
        case _ => s"BIND variable(s) ${fmtVars(computed)} are already bound " +
          "by the pattern group — a computed value never joins a node id"
      })
      // a subquery joins through the triples or an earlier subquery
      val unjoined = r match {
        case SubSelect(_) => (subVars(r) & (req ++ accSubVars)).isEmpty
        case _            => shared.isEmpty
      }
      if (unjoined) fail(r match {
        case SubSelect(_) => "a subquery shares no plain variable with the " +
          "group's required pattern — an unjoined subquery would be a cross product"
        case Union(_) => "a UNION group shares no variable with the required " +
          "pattern — an unjoined union would be a cartesian product"
        case _ => "a group member shares no variable with the rest of its " +
          "group — a cartesian product at KG scale is always a bug"
      })
      val open = shared -- (accCertain & certain(r))
      val openInR = open -- certain(r)
      if (open.nonEmpty) fail(r match {
        case Union(_) if openInR.nonEmpty =>
          s"variable(s) ${fmtVars(openInR)} join the UNION group to the " +
            "required pattern but are bound in only some branches — a branch " +
            "row's NULL key would silently drop it; bind them in every branch"
        case Union(_) =>
          s"variable(s) ${fmtVars(open)} are bound both by an OPTIONAL group " +
            "and a UNION group — only well-designed patterns are supported"
        case SubSelect(_) if openInR.isEmpty =>
          s"subquery variable(s) ${fmtVars(open)} are bound only by an outer " +
            "OPTIONAL or in only some UNION branches — an unmatched row's NULL " +
            "key would silently drop it from the join; anchor the variable in " +
            "the required pattern or rename the subquery projection"
        case _ =>
          s"join variable(s) ${fmtVars(open)} may be unbound on one side — " +
            "bound only by an OPTIONAL group or in only some UNION branches — " +
            "and a NULL join key drops rows SPARQL's compatible-mapping join " +
            "keeps; bind them in the triple patterns before the OPTIONAL"
      })
      accScope ++= scope(r)
      accCertain ++= certain(r)
      accSubVars ++= subVars(r)
    }
    // a NULL binding never equals an inline value, where SPARQL's
    // unbound-is-compatible rule would keep the row
    parts.collect { case t: Table => t }.foreach { t =>
      val unanchored = t.vars.filterNot(req)
      if (unanchored.nonEmpty)
        fail(s"VALUES variable(s) ${unanchored.mkString(", ")} must be bound " +
          "by the required pattern (not only by OPTIONAL) in this fragment")
    }
  }

  /** BIND(b AS ?v) over `inner`: a fresh variable, reading only variables
    * in scope before it, each in the value space it lives in. */
  private def checkExtend(inner: Pattern, v: String, b: Expr, env: Env): Unit = {
    val sc = scope(inner)
    val computed = valueKinds(inner)
    if (computed.contains(v)) fail(s"duplicate BIND variable(s): $v")
    if (sc(v)) fail(s"BIND variable ?$v is already bound by the pattern group")
    def isPattern(src: String) = sc(src) && !computed.contains(src)
    def copies(bx: Expr): Unit = bx match {
      case Var(src) =>
        if (!isPattern(src))
          fail(s"BIND(?$src AS ?$v): a bare-?var BIND copies a PATTERN " +
            s"binding — ?$src is not one (computed values need an expression)")
      case Call("COALESCE", args) =>
        // id-space fallback over pattern bindings (OPTIONAL vars are the
        // point); value columns would mix spaces
        val vs = args.collect { case Var(n) => n }
        val notPattern = vs.filterNot(isPattern)
        if (notPattern.nonEmpty)
          fail(s"COALESCE takes PATTERN variables — ${fmtVars(notPattern)} " +
            "are not pattern bindings (coalescing ids with computed values mixes spaces)")
        val ps = vs.filter(env.pred)
        if (ps.nonEmpty && ps.size != vs.size)
          fail(s"COALESCE in BIND ?$v mixes predicate-position (raw IRI) and " +
            "node-position (hashed id) variables — the two spaces cannot share a column")
      case Call("IF", Seq(_, t, e2)) => copies(t); copies(e2)
      case _ => ()
    }
    copies(b)
    typeCheck(b, '*', env.copy(scope = sc, ctx = s"BIND ?$v")): Unit
  }

  /** ORDER BY keys read the result columns (after DISTINCT, as in SPARQL's
    * modifier order): the projected variables and aggregate aliases, or
    * every in-scope variable under SELECT *. */
  private def orderEnv(q: Query): Env = {
    val aliases = q.projection.collect { case PAgg(call, a) => a -> aggKind(call.func) }
    Env(valueKinds(q.where) ++ aliases, predSpace(q.where),
      if (q.projection.isEmpty) scope(q.where) else q.select.toSet ++ aliases.map(_._1),
      "ORDER BY")
  }

  /** Parse-time semantic checks — every rejection here is a query that
    * would otherwise run with silently-surprising semantics. */
  private def validate(qy: Query): Unit = {
    val where = qy.where
    qy.having.foreach(typeCheck(_, 'b', Env(Map.empty, Set.empty, ctx = "HAVING")))
    if (!anchored(where) && !(qy.form == "DESCRIBE" && qy.describeVars.isEmpty))
      fail("WHERE group has no required triple patterns or subqueries")
    val kinds = valueKinds(where)
    val pred = predSpace(where) ++ predSpace(BGP(qy.template))
    // ---- predicate-position space. The edges convention stores RAW
    // predicate IRIs in the pred column and hashed node ids everywhere
    // else; joining or comparing across the two spaces is silently
    // constant (a raw IRI never equals a sha256 hash)
    val mixedSpace = pred & (nodeSpace(where) ++ nodeSpace(BGP(qy.template)) ++ qy.describeVars)
    if (mixedSpace.nonEmpty)
      fail(s"variable(s) ${fmtVars(mixedSpace)} are bound " +
        "in predicate/GRAPH position (raw IRIs) but also used where hashed node " +
        "ids live (subject/object position, DESCRIBE, CONSTRUCT node slots) " +
        "— the two spaces never compare equal; rename one of the uses")
    checkPattern(where, Env(kinds, pred))
    val sc = scope(where)
    val groupVars = sc -- kinds.keySet
    checkBlankNodes(qy.template, required = false)
    if (qy.form == "SELECT" && qy.projection.isEmpty && sc.nonEmpty &&
        sc.forall(_.startsWith("_bn_")))
      fail("SELECT * over patterns binding only blank nodes has no " +
        "projectable result — name at least one ?variable")
    qy.aggCalls.foreach {
      case AggCall(f @ ("SUM" | "AVG"), _, Some(v), _) if pred(v) =>
        fail(s"$f(?$v) aggregates numeric values, but ?$v binds predicate IRIs")
      case AggCall(f @ ("SUM" | "AVG"), _, Some(v), _) if kinds.contains(v) =>
        fail(s"$f(?$v) aggregates the numeric VALUE space of RDF terms — " +
          "aggregate the base variable instead of the computed value")
      case AggCall("GROUP_CONCAT", _, Some(v), _) if kinds.get(v).contains('n') =>
        fail(s"GROUP_CONCAT(?$v) over a numeric computed value is not " +
          "supported — concatenation needs strings")
      case _ => ()
    }
    if (qy.form == "DESCRIBE") {
      val unbound = qy.describeVars.filterNot(groupVars)
      if (unbound.nonEmpty)
        fail(s"DESCRIBE variable(s) ${unbound.mkString(", ")} are not bound " +
          "by the WHERE group")
    }
    if (qy.form == "CONSTRUCT") {
      qy.template.foreach(t => t.pred match {
        case V(_) | C(_) => ()
        case other => fail(s"property paths are not allowed in a CONSTRUCT " +
          s"template (it names OUTPUT edges, not matches): $other")
      })
      val unbound = varsOf(qy.template) -- groupVars
      if (unbound.nonEmpty)
        fail(s"CONSTRUCT template variable(s) ${unbound.mkString(", ")} are " +
          "not bound by the WHERE group")
    }
    val aliases = qy.projection.collect { case PAgg(_, a) => a }
    val dupAlias = (aliases ++ qy.select).groupBy(identity).collect {
      case (n, vs) if vs.sizeIs > 1 => n
    }
    if (dupAlias.nonEmpty)
      fail(s"duplicate SELECT name(s): ${dupAlias.mkString(", ")}")
    if (qy.isAggregate) {
      if (qy.projection.isEmpty)
        fail("SELECT * cannot be combined with GROUP BY / aggregates — " +
          "project the grouped variables explicitly")
      val bad = qy.select.filterNot(qy.groupBy.contains)
      if (bad.nonEmpty)
        fail(s"non-aggregate SELECT variable(s) ${bad.mkString(", ")} must " +
          "appear in GROUP BY")
    }
    val order = orderEnv(qy)
    qy.orderBy.foreach {
      case (Var(v), _) =>
        if (!order.scope(v))
          fail(s"ORDER BY variable ?$v is not a result column — order by a " +
            "projected variable or aggregate alias")
      case _ => ()
    }
    qy.orderBy.foreach { case (e, _) => if (!e.isInstanceOf[Var]) typeCheck(e, 'n', order) }
  }

  // ---------- execution ----------------------------------------------------

  /** A SUM/AVG argument's numeric value space at decimal(28,10):
    * integer-family and double/float/decimal literals both read as
    * decimal, so the ACCUMULATION is exact and ORDER-INDEPENDENT —
    * float sums differ run-to-run under parallel reduction; decimal
    * sums cannot. The single rounding happens once, at the end, when
    * the total is cast to double. Non-numeric terms read NULL. */
  private def numDecValue(v: String): Column = {
    val term = col(s"${v}_term")
    // try_cast, not cast: a long with >= 19 integral digits overflows
    // decimal(28,10), and under ANSI a plain cast would throw mid-job —
    // try_cast reads NULL, so the strict-error guard makes the GROUP's
    // aggregate unbound instead (error-means-unbound, same rule as any
    // non-numeric term)
    coalesce(TypedLiterals.asLong(term).try_cast("decimal(28,10)"),
      TypedLiterals.asDecimal(term, 28, 10))
  }

  /** SPARQL value-ordering key over a bound `${v}_term` struct: rank 0
    * = non-numeric terms (IRIs/bnodes/other literals — the kinds W3C
    * ordering puts BEFORE numeric literals), ordered among themselves
    * by id (deterministic where the spec leaves sub-ordering open);
    * rank 1 = numeric literals, ordered BY VALUE. MIN over an
    * all-numeric group is the numerically smallest term, MAX the
    * largest; all-IRI groups keep the id-pick exactly. The key is
    * NULL-free (rank disambiguates before the coalesced value), so
    * struct comparison is total. */
  private def termOrderKey(v: String): Column = {
    val term = col(s"${v}_term")
    val num = termNum(term)
    struct(when(num.isNotNull, 1).otherwise(0).as("r"),
      coalesce(num, lit(0.0)).as("n"), col(v).as("i"))
  }

  /** Aggregate compilation. COUNT family is codegen'd partial-agg
    * (map-side combine before the one group-key shuffle); GROUP_CONCAT
    * is collect_list/set — per-group state is O(group payload), so at
    * scale put it behind selective patterns, as with any SQL
    * string_agg. SAMPLE compiles to `min` and GROUP_CONCAT sorts — both
    * deliberate determinism choices where SPARQL leaves the result
    * engine-defined.
    *
    * MIN/MAX over a node-position pattern variable compile per the
    * overload: with the nodes table attached (`hybrid` contains the
    * variable), they pick by SPARQL VALUE ORDERING ([[termOrderKey]] —
    * numeric literals by value, everything else before them by id) and
    * return the winning term's ID (resolveTerms renders it); without
    * it, the documented id-space pick. The two coincide on any group
    * with no numeric literals, so attaching the nodes table never
    * changes a non-numeric result.
    *
    * SUM/AVG aggregate the NUMERIC VALUE SPACE via the bindValues
    * `_term` struct ([[numDecValue]]): exact decimal(28,10)
    * accumulation (order-independent, so engine- and
    * parallelism-reproducible), one final cast to double. SPARQL error
    * semantics are STRICT per the spec: a group containing any unbound
    * or non-numeric value yields NULL (unbound) for the whole
    * aggregate — the `count(num) = count(*)` guard — and the empty
    * global group sums to 0 (Sum({}) = 0, Avg({}) = 0). */
  private def compileAgg(a: AggCall, hybrid: Set[String] = Set.empty): Column = a match {
    case AggCall("COUNT", false, None, _)    => count(lit(1))
    case AggCall("COUNT", false, Some(v), _) => count(col(v))
    case AggCall("COUNT", true, Some(v), _)  => countDistinct(col(v))
    // a NULL binding (unmatched OPTIONAL) gets a NULL ordering key,
    // which min_by/max_by skip — the same NULL-ignoring contract as the
    // plain min/max picks
    case AggCall("MIN", _, Some(v), _) =>
      if (hybrid(v)) min_by(col(v), when(col(v).isNotNull, termOrderKey(v)))
      else min(col(v))
    case AggCall("MAX", _, Some(v), _) =>
      if (hybrid(v)) max_by(col(v), when(col(v).isNotNull, termOrderKey(v)))
      else max(col(v))
    case AggCall("SAMPLE", _, Some(v), _)    => min(col(v))
    case AggCall("GROUP_CONCAT", false, Some(v), sep) =>
      array_join(sort_array(collect_list(col(v))), sep)
    case AggCall("GROUP_CONCAT", true, Some(v), sep) =>
      array_join(sort_array(collect_set(col(v))), sep)
    case AggCall("SUM", dist, Some(v), _) =>
      val num = numDecValue(v)
      val s = if (dist) sum_distinct(num) else sum(num)
      when(count(num) === count(lit(1)),
        coalesce(s, lit(0).cast("decimal(38,10)"))).cast("double")
    case AggCall("AVG", dist, Some(v), _) =>
      val num = numDecValue(v)
      val s = if (dist) sum_distinct(num) else sum(num)
      val n = if (dist) countDistinct(num) else count(num)
      when(count(num) === count(lit(1)),
        when(n === 0, lit(0.0)).otherwise(s.cast("double") / n))
    case other => fail(s"unsupported aggregate $other")
  }

  /** GROUP BY + aggregates + HAVING over the matched bindings: ONE
    * hash-aggregate shuffle on the group variables (or a global
    * aggregate when GROUP BY is absent — SPARQL's implicit single
    * group); HAVING aggregates not already projected are computed in
    * the same pass under internal aliases and dropped after the
    * filter. */
  private def aggregate(matched: DataFrame, q: Query,
                        hybrid: Set[String] = Set.empty): DataFrame = {
    val projAggs = q.projection.collect { case PAgg(call, alias) => (call, alias) }
    val extra = q.aggCalls.distinct
      .filterNot(projAggs.map(_._1).contains)
      .zipWithIndex.map { case (call, i) => (call, s"_having_$i") }
    val all = projAggs ++ extra
    val agged =
      if (all.isEmpty)
        // SELECT ?g ... GROUP BY ?g with no aggregate calls: grouping
        // alone, i.e. the distinct group keys
        matched.select(q.groupBy.map(col): _*).distinct()
      else {
        val aggCols = all.map { case (call, alias) => compileAgg(call, hybrid).as(alias) }
        val grouped =
          if (q.groupBy.nonEmpty) matched.groupBy(q.groupBy.map(col): _*)
          else matched.groupBy()
        grouped.agg(aggCols.head, aggCols.tail: _*)
      }
    val env = Env(Map.empty, Set.empty, alias = all.toMap)
    val hav = q.having.foldLeft(agged)((df, h) => df.filter(compile(h, 'b', env)))
    hav.select(q.projection.map {
      case PVar(n)        => col(n)
      case PAgg(_, alias) => col(alias)
    }: _*)
  }

  /** CONSTRUCT template instantiation: one projection of the bindings
    * per template triple (rows with an unbound template variable are
    * skipped, per SPARQL), unioned and DISTINCT'd — a CONSTRUCT result
    * is a GRAPH (a set of edges), and the distinct is the single
    * shuffle that makes it one. Output matches the engine's edges
    * convention: hashed node ids, raw predicate IRIs. */
  private def construct(matched: DataFrame, template: Seq[TriplePattern]): DataFrame = {
    def nodeCol(t: Bgp.TermPat): Column = t match {
      case V(n)  => col(n)
      case C(v)  => lit(v)
      case other => fail(s"unexpected template term $other")
    }
    val parts = template.map { t =>
      val varCols = Seq(t.subj, t.pred, t.obj).collect { case V(n) => col(n) }
      val kept = varCols.foldLeft(matched)((df, vc) => df.filter(vc.isNotNull))
      kept.select(nodeCol(t.subj).as("subj_id"), nodeCol(t.pred).as("pred"),
        nodeCol(t.obj).as("obj_id"))
    }
    parts.reduce(_ union _).distinct()
  }

  /** DESCRIBE evaluation. SPARQL leaves the description shape to the
    * implementation; this engine describes a node as ITS OUTGOING EDGES
    * — the forward Concise Bounded Description, whose bnode-closure
    * step is vacuous here because skolemization (E4) already promoted
    * every blank node to an IRI. The described-id set is the union of
    * the group bindings of each DESCRIBE variable (NULL bindings from
    * unmatched OPTIONALs are skipped — there is no term to describe)
    * and the constant ids; it is deduped to a dimension-sized relation,
    * then ONE left-semi equi-join selects the edges (AQE broadcasts the
    * id side when small), and the graph-set distinct makes the result a
    * graph. Output is the engine's edges convention
    * (subj_id, pred, obj_id). */
  private def describeEdges(edges: DataFrame, matched: Option[DataFrame],
                            q: Query): DataFrame = {
    val base = edges.select("subj_id", "pred", "obj_id")
    val varIds = matched.toSeq.flatMap(m => q.describeVars.map(v =>
      m.select(col(v).as("id")).filter(col("id").isNotNull)))
    val constIds =
      if (q.describeIds.isEmpty) Nil
      else {
        val spark = edges.sparkSession
        import spark.implicits._
        Seq(q.describeIds.toDF("id"))
      }
    val ids = (varIds ++ constIds).reduce(_ union _).distinct()
    base.join(ids, base("subj_id") === ids("id"), "left_semi").distinct()
  }

  /** Joins the N3 lexical form of each listed id column back onto a
    * query result — the human-readable exit from the hashed-id plane.
    * One LEFT equi-join per column against the dimension-sized nodes
    * projection (AQE broadcasts it); ids with no nodes row (computed
    * value columns, NULL unmatched-OPTIONAL bindings) pass through
    * unchanged. Each id column is REPLACED by its n3 rendering under
    * the same name, so the frame stays drop-in for downstream code. */
  def resolveTerms(result: DataFrame, nodes: DataFrame,
                   cols: Seq[String]): DataFrame = {
    require(cols.nonEmpty, "resolveTerms needs at least one column")
    val missing = cols.filterNot(result.columns.contains)
    require(missing.isEmpty,
      s"resolveTerms column(s) ${missing.mkString(", ")} are not in the result")
    cols.foldLeft(result) { (df, v) =>
      val n3c = nodes.select(col("id").as(s"${v}__id"),
        Canonicalize.n3(struct(col("kind"), col("value"), col("lang"),
          col("dt"))).as(s"${v}__n3"))
      df.join(n3c, df(v) === n3c(s"${v}__id"), "left")
        .withColumn(v, coalesce(col(s"${v}__n3"), col(v)))
        .drop(s"${v}__id", s"${v}__n3")
    }
  }

  /** [[run]] for ASK queries, evaluated: true iff the group matches. */
  def ask(edges: DataFrame, queryString: String): Boolean = {
    val q = parse(queryString)
    require(q.form == "ASK", s"ask() takes an ASK query, got ${q.form}")
    run(edges, queryString).collect()(0).getBoolean(0)
  }

  /**
   * Parse and execute against an edges frame (subj_id, pred, obj_id).
   * The WHERE tree evaluates bottom-up (see [[Pattern]]), then the
   * solution modifiers apply in SPARQL's order: GROUP BY/aggregates ->
   * HAVING -> projection -> DISTINCT -> ORDER BY -> OFFSET -> LIMIT. An
   * ORDER BY + LIMIT pair plans as TakeOrderedAndProject — per-partition
   * top-k then a single merge, never a global sort.
   */
  def run(edges: DataFrame, queryString: String): DataFrame =
    runWith(edges, None, queryString)

  /** [[run]] with the D2 nodes table attached, enabling the VALUE-SPACE
    * surface: numeric FILTER comparisons (`FILTER(?n > 100)`), string
    * functions (STR/LANG/DATATYPE/STRSTARTS/STRENDS/CONTAINS, kind
    * tests) and SUM/AVG aggregation. Each such variable is
    * [[Bgp.bindValues]]-joined once, by the first BIND or FILTER that
    * reads it (AQE broadcasts the projected nodes side when it is
    * dimension-sized); the term columns are dropped again before
    * projection. */
  def run(edges: DataFrame, nodes: DataFrame, queryString: String): DataFrame =
    runWith(edges, Some(nodes), queryString)

  /** Validates and evaluates a hand-built algebra tree over an edges
    * frame — the same checks and evaluator as a parsed WHERE group. */
  def evaluate(edges: DataFrame, p: Pattern): DataFrame = {
    if (!anchored(p)) fail("WHERE group has no required triple patterns or subqueries")
    checkPattern(p, Env(valueKinds(p), predSpace(p)))
    eval(p, Ctx(edges, None, Env(valueKinds(p), predSpace(p))))
  }

  private def runWith(edges: DataFrame, nodes: Option[DataFrame],
                      queryString: String): DataFrame = {
    val q = parse(queryString)
    if (q.fromGraphs.nonEmpty || q.fromNamed.nonEmpty)
      require(edges.columns.contains("graph"),
        "FROM / FROM NAMED need a 'graph' column on the edges frame — " +
          "derive one from lineage with Materialize.quads(edges)")
    runParsed(edges, nodes, applyDataset(q))
  }

  /** The CBD expansion of a DESCRIBE reads the DEFAULT graph — under a
    * dataset clause, the FROM merge (SPARQL 13.2). */
  private def describeScope(edges: DataFrame, q: Query): DataFrame =
    if (q.fromGraphs.isEmpty && q.fromNamed.isEmpty) edges
    else if (q.fromGraphs.isEmpty) edges.filter(lit(false))
    else edges.filter(col("graph").isin(q.fromGraphs: _*))

  /** Apply the SPARQL 13.2 dataset clause by PATTERN REWRITE: every
    * non-GRAPH pattern scopes to the FROM merge (the query's default
    * graph), every GRAPH pattern to the FROM NAMED set — each a pushed
    * IN-filter on the raw graph column ([[Bgp.GraphIn]]); an empty side
    * matches nothing, and a constant `GRAPH <g>` outside the named set
    * is statically empty. Subqueries inherit the outer dataset. */
  private def applyDataset(q: Query): Query = {
    if (q.fromGraphs.isEmpty && q.fromNamed.isEmpty) return q
    def scoped(p: TriplePattern): TriplePattern = p.graph match {
      case None => p.copy(graph = Some(Bgp.GraphIn(q.fromGraphs, None)))
      case Some(C(g)) =>
        if (q.fromNamed.contains(g)) p
        else p.copy(graph = Some(Bgp.GraphIn(Nil, None)))
      case Some(V(n)) => p.copy(graph = Some(Bgp.GraphIn(q.fromNamed, Some(n))))
      case Some(_)    => p // unreachable: parse produces V/C graphs only
    }
    def go(p: Pattern): Pattern = p match {
      case BGP(ts)           => BGP(ts.map(scoped))
      case Join(ps)          => Join(ps.map(go))
      case LeftJoin(l, r, c) => LeftJoin(go(l), go(r), c)
      case Minus(l, r)       => Minus(go(l), go(r))
      case Union(bs)         => Union(bs.map(go))
      case Filter(c, i)      => Filter(c, go(i))
      case Extend(i, v, e)   => Extend(go(i), v, e)
      case Exists(i, pr, n)  => Exists(go(i), go(pr), n)
      case t: Table          => t
      case SubSelect(s)      => SubSelect(applyDataset(
        s.copy(fromGraphs = q.fromGraphs, fromNamed = q.fromNamed)))
    }
    q.copy(where = go(q.where))
  }

  /** What the evaluator reads: the edges, the optional nodes table and
    * the value kinds and predicate-space variables of the tree. */
  private final case class Ctx(edges: DataFrame, nodes: Option[DataFrame], env: Env)

  /** Joins the `_term` struct of each listed variable that lacks one — a
    * value-space read needs the nodes table. */
  private def withTerms(df: DataFrame, vars: Seq[String],
                        nodes: Option[DataFrame]): DataFrame = {
    val missing = vars.distinct.filterNot(v => df.columns.contains(s"${v}_term"))
    if (missing.isEmpty) df
    else Bgp.bindValues(df, nodes.getOrElse(fail(
      "value-space FILTERs, BIND expressions and SUM/AVG read the value " +
        "space — pass the nodes table: Sparql.run(edges, nodes, query)")), missing)
  }

  /** MINUS and the EXISTS probes: a left-semi/anti equi-join on the
    * shared variables. The probe side is projected to the shared columns
    * and deduped first, so no group payload crosses the shuffle and the
    * row side keeps its bag semantics. */
  private def probe(rows: DataFrame, other: DataFrame, how: String): DataFrame = {
    val shared = other.columns.toSeq.filter(rows.columns.contains)
    rows.join(other.select(shared.map(col): _*).distinct(), shared, how)
  }

  /** VALUES as a selection (set semantics — the inline rows are deduped,
    * never a bag multiplier). One variable is an IN-filter Catalyst
    * pushes toward the scan; several a BROADCAST left-semi join against
    * the driver-local inline relation. UNDEF cells (null) are compatible
    * with ANY binding (SPARQL 10.2), which a semi-join key cannot
    * express, so rows with UNDEF compile to the disjunction of their
    * defined-cell conjunctions; a row of all UNDEF keeps everything. */
  private def selectValues(rows: DataFrame, t: Table): DataFrame = {
    val Table(vars, values) = t
    if (values.exists(_.contains(null))) {
      val rowPreds = values.distinct.map { r =>
        vars.zip(r).collect { case (v, c0) if c0 != null => col(v) === lit(c0) }
          .reduceOption(_ && _)
      }
      if (rowPreds.contains(None)) rows
      else rows.filter(rowPreds.flatten.reduce(_ || _))
    }
    else if (vars.sizeIs == 1)
      rows.filter(col(vars.head).isin(values.map(_.head).distinct: _*))
    else {
      val spark = rows.sparkSession
      val schema = StructType(vars.map(StructField(_, StringType, nullable = false)))
      val inline = spark.createDataFrame(spark.sparkContext.parallelize(
        values.distinct.map(org.apache.spark.sql.Row.fromSeq), 1), schema)
      rows.join(broadcast(inline), vars, "left_semi")
    }
  }

  /** The one evaluator: each node of the algebra is one relational
    * operator over the binding frame. Joins are equi-joins on the shared
    * variables — the validation pass guarantees no key is NULL where
    * SPARQL's compatible-mapping join would differ. */
  private def eval(p: Pattern, x: Ctx): DataFrame = p match {
    case BGP(ts) => Bgp.matchPatterns(x.edges, ts)
    case Join(parts) =>
      val joined = parts.filterNot(_.isInstanceOf[Table]).map(eval(_, x)).reduceLeft {
        (l, r) => l.join(r, r.columns.toSeq.filter(l.columns.contains), "inner")
      }
      parts.collect { case t: Table => t }.foldLeft(joined)(selectValues)
    case LeftJoin(l, r, cond) =>
      // the condition pre-filters the group side: reading only the
      // group's own variables (validated), a failing condition makes the
      // group unmatched (NULLs), never drops the row
      val left = eval(l, x)
      val own = x.env.copy(scope = scope(r), ctx = InOptional)
      val right = cond.foldLeft(eval(r, x))((df, e) => df.filter(compile(e, 'b', own)))
      left.join(right, right.columns.toSeq.filter(left.columns.contains), "left")
    case Minus(l, r) => probe(eval(l, x), eval(r, x), "left_anti")
    case Exists(i, pr, neg) =>
      probe(eval(i, x), eval(pr, x), if (neg) "left_anti" else "left_semi")
    case Union(bs) =>
      // columns align on the union of the branch variables (name order),
      // NULL in a branch that does not bind one; a zero-shuffle concat
      val matched = bs.map(eval(_, x))
      val allVars = matched.flatMap(_.columns).distinct.sorted
      matched.map { m =>
        val have = m.columns.toSet
        m.select(allVars.map(v =>
          (if (have(v)) col(v) else lit(null).cast("string")).as(v)): _*)
      }.reduce(_ union _)
    case Filter(cond, i) =>
      // BIND columns and pred-space variables are read directly; only
      // node-position variables read in a value space join their terms
      val env = x.env.copy(scope = scope(i), ctx = "FILTER")
      val in = withTerms(eval(i, x), cond.flatMap(typeCheck(_, 'b', env)), x.nodes)
      cond.foldLeft(in)((df, e) => df.filter(compile(e, 'b', env)))
    case Extend(i, v, b) =>
      val env = x.env.copy(scope = scope(i), ctx = s"BIND ?$v")
      withTerms(eval(i, x), typeCheck(b, '*', env), x.nodes)
        .withColumn(v, compile(b, spaceOf(b, body = true), env))
    case SubSelect(q) => runParsed(x.edges, x.nodes, q)
    case Table(_, _) => fail("VALUES selects the rows of a group join")
  }

  private def runParsed(edges: DataFrame, nodes: Option[DataFrame],
                        q: Query): DataFrame = {
    if (q.form == "DESCRIBE" && q.describeVars.isEmpty)
      return describeEdges(describeScope(edges, q), None, q) // constant-only
    // MIN/MAX picks upgrade to SPARQL value ordering when the nodes
    // table is attached — their term structs, like SUM/AVG's, must reach
    // the aggregation; every other term struct is spent
    val hybridVars = if (nodes.isDefined) q.minmaxAggVars else Nil
    val aggVars = (q.numericAggVars ++ hybridVars).distinct
    val evaluated = withTerms(eval(q.where,
      Ctx(edges, nodes, Env(valueKinds(q.where), predSpace(q.where)))), aggVars, nodes)
    val matched = evaluated.drop(evaluated.schema.fields.collect {
      case f if f.name.endsWith("_term") && f.dataType.isInstanceOf[StructType] &&
        !aggVars.contains(f.name.stripSuffix("_term")) => f.name
    }.toIndexedSeq: _*)
    if (q.form == "ASK")
      // one boolean row; limit(1) keeps the plan a first-match probe —
      // Spark stops scanning partitions once a row surfaces
      return matched.limit(1).agg((count(lit(1)) === 1).as("ask"))
    if (q.form == "CONSTRUCT") return construct(matched, q.template)
    if (q.form == "DESCRIBE")
      return describeEdges(describeScope(edges, q), Some(matched), q)
    val projected =
      if (q.isAggregate) aggregate(matched, q, hybridVars.toSet)
      else if (q.projection.isEmpty) {
        // SELECT *: blank-node bindings are non-distinguished — they
        // join, but never project (SPARQL 16.2)
        val keep = matched.columns.filterNot(_.startsWith("_bn_"))
        if (keep.length == matched.columns.length) matched
        else matched.select(keep.map(col).toIndexedSeq: _*)
      }
      else matched.select(q.select.distinct.map(col): _*)
    val dist = if (q.distinct) projected.distinct() else projected
    // ORDER BY over a node-space variable with the nodes table attached
    // sorts by SPARQL value ordering (termOrderKey: numeric literals by
    // value, other terms before them by id) — one broadcast-able term
    // join per such column, dropped after the sort; everything else
    // (aliases, computed values, pred-space raw IRIs) sorts as-is
    val ordered =
      if (q.orderBy.isEmpty) dist
      else {
        val ns = nodeSpace(q.where)
        val env = orderEnv(q)
        // expression keys read pattern variables through their _term
        // structs — the value read is only decidable with the nodes
        // table (an id-sort fallback would be meaningless for a
        // computed key, unlike a plain variable's documented id order)
        val exprNodeVars = q.orderBy.collect {
          case (e, _) if !e.isInstanceOf[Var] => typeCheck(e, 'n', env)
        }.flatten.filter(v => ns(v) && dist.columns.contains(v))
        require(exprNodeVars.isEmpty || nodes.isDefined,
          "ORDER BY expressions over pattern variables need the nodes " +
            "table — use run(edges, nodes, query)")
        val hybridOrd = nodes match {
          case Some(_) => (q.orderBy.collect { case (Var(v), _) => v }
            .filter(v => ns(v) && dist.columns.contains(v)) ++
            exprNodeVars).distinct
          case None => Nil
        }
        val base =
          if (hybridOrd.isEmpty) dist
          else Bgp.bindValues(dist, nodes.get, hybridOrd)
        val keys = q.orderBy.map { case (e, asc) =>
          // the query's OWN aggregate aliases are plain columns by the
          // time the sort runs (post-aggregation)
          val k = e match {
            case Var(v) => if (hybridOrd.contains(v)) termOrderKey(v) else col(v)
            case _      => compile(e, 'n', env)
          }
          if (asc) k.asc else k.desc
        }
        hybridOrd.foldLeft(base.orderBy(keys: _*))((df, v) => df.drop(s"${v}_term"))
      }
    val off = q.offset.fold(ordered)(o => ordered.offset(o.toInt))
    q.limit.fold(off)(l => off.limit(l.toInt))
  }
}
