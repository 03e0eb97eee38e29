package graft.runtime

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.analysis.UnresolvedRelation
import org.apache.spark.sql.catalyst.expressions.SubqueryExpression
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, SubqueryAlias, UnresolvedWith}
import org.apache.spark.sql.graft.OfRows
import graft.functions.{ArgCode, TimeFunctions}

/** Minimal dbt-Jinja surface over spark.sql — enough that the reference's
  * model bodies run near-verbatim (SURVEY.md §7 `sqlfront`: the reference's
  * dialect IS Spark SQL, so only `{{ ref }}`, `{{ source }}`, `{{ var }}`,
  * `{% if is_incremental() %}` and `{{ this }}` need substitution).
  *
  * Supported:
  *   - `{{ ref('model') }}` → the model's materialized output
  *   - `{{ source('schema','table') }}` → the source registry's table
  *   - `{{ var('k') }}` / `{{ var('k', 'default') }}` → raw text substitution
  *   - `{% if is_incremental() %} … {% endif %}` (with optional `{% else %}`)
  *   - `{{ this }}` → the model's own current table
  *   - `{% set %}` / `{% for %}` / general `{% if %}` / `{% do %}` control
  *     flow via [[Jinja]] (the reference's generate_alias_name /
  *     tblproperties_clause macro shapes)
  *
  * `ref`, `source` and `this` render to plain relation names; [[runSql]]
  * parses the text and binds each of those names into the parsed plan, so a
  * build registers nothing in the session catalog and builds may overlap.
  */
object SqlTemplater {

  // `name\s*\(` throughout: the corpus writes both `source('a','b')` and
  // `source ('a','b')` (e.g. models/spark/b2b_mart/fact/fact_promocodes.sql)
  private val ConfigRe = """(?s)\{\{\s*config\s*\(.*?\)\s*\}\}""".r
  private val CommentRe = """(?s)\{#.*?#\}""".r
  private val RefRe = """\{\{\s*ref\s*\(\s*['"]([^'"]+)['"]\s*\)\s*\}\}""".r
  private val SourceRe = """\{\{\s*source\s*\(\s*['"]([^'"]+)['"]\s*,\s*['"]([^'"]+)['"]\s*\)\s*\}\}""".r

  /** Static (schema, table) source() calls in a raw template text — used by
    * the corpus sources.yml resolution sweep. */
  def staticSources(text: String): Seq[(String, String)] =
    SourceRe.findAllMatchIn(text).map(m => (m.group(1), m.group(2))).toSeq.distinct
  private val VarRe = """\{\{\s*var\s*\(\s*['"]([^'"]+)['"](?:\s*,\s*['"]([^'"]*)['"])?\s*\)\s*\}\}""".r
  private val ThisRe = """\{\{\s*this\s*\}\}""".r

  /** A `{% macro name(params) %}body{% endmacro %}` definition: the body is
    * substituted at `{{ name(args…) }}` call sites with each `{{ param }}`
    * occurrence replaced by the caller's argument text (reference macro
    * archetype: macros/format_time.sql:1-6). */
  final case class MacroDef(params: Seq[String], body: String)

  private val MacroDefRe =
    """(?s)\{%-?\s*macro\s+(\w+)\(([^)]*)\)\s*-?%\}(.*?)\{%-?\s*endmacro\s*-?%\}""".r
  // a call is any {{ name(...) }} whose name has a registered macro; ref/
  // source/var/config never collide because they cannot be registered
  private val CallRe = """\{\{\s*(\w+)\s*\(([^{}]*)\)\s*\}\}""".r
  private val reservedNames = Set("ref", "source", "var", "config", "this")
  private val ParamRe = """\{\{\s*(\w+)\s*\}\}""".r

  /** Parse every macro definition in `text` (a macros/-directory file). */
  def parseMacros(text: String): Map[String, MacroDef] =
    MacroDefRe.findAllMatchIn(text).map { m =>
      require(!reservedNames.contains(m.group(1)), s"macro name ${m.group(1)} is reserved")
      val params = m.group(2).split(",").toSeq.map(_.trim)
        .filter(_.nonEmpty).map(_.takeWhile(c => c.isLetterOrDigit || c == '_'))
      m.group(1) -> MacroDef(params, m.group(3).trim)
    }.toMap

  /** Split an argument list on top-level commas only (an argument may itself
    * be a SQL expression with commas inside parens, or a config value with
    * commas inside list/dict literals). */
  private def splitArgs(s: String): Seq[String] = {
    if (s.trim.isEmpty) return Nil
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    var depth = 0; var start = 0; var quote: Char = 0
    for (i <- s.indices) s(i) match {
      case q @ ('\'' | '"') if quote == 0 => quote = q
      case q if quote == q => quote = 0
      case '(' | '[' | '{' if quote == 0 => depth += 1
      case ')' | ']' | '}' if quote == 0 => depth -= 1
      case ',' if quote == 0 && depth == 0 => out += s.substring(start, i); start = i + 1
      case _ =>
    }
    out += s.substring(start)
    out.toSeq.map(_.trim)
  }

  private def stripQuotes(s: String): String =
    if (s.length >= 2 && (s.head == '\'' || s.head == '"') && s.last == s.head)
      s.substring(1, s.length - 1)
    else s

  private val ExprRe = """\{\{[^{}]*\}\}|\{%[^{}]*%\}""".r

  /** Bind params into a macro body, mirroring Jinja's value semantics with
    * textual substitution:
    *   - standalone `{{ param }}` renders the argument's *value* — quotes
    *     stripped, like Jinja rendering a string (`{{ x }}` with x='a' → a);
    *   - params inside template expressions or `{% %}` tags are replaced as
    *     whole-word tokens by the argument's *raw text*, so a quoted call
    *     argument stays a string literal where it is evaluated
    *     (`{% if param == 'device_id' %}` with arg `'device_id'` becomes a
    *     true comparison — reference archetype:
    *     macros/gold_active_users_and_devices_with_ephemeral.sql:5).
    * Unquoted arguments (spliced SQL like `format_time(dur_h)`) bind the
    * same text in both contexts. */
  private def bindParams(body: String, raw: Map[String, String]): String = {
    val values = raw.map { case (k, v) => k -> stripQuotes(v) }
    val standalone = ParamRe.replaceAllIn(body, pm =>
      scala.util.matching.Regex.quoteReplacement(values.getOrElse(pm.group(1), pm.matched)))
    ExprRe.replaceAllIn(standalone, em => {
      var e = em.matched
      for ((p, a) <- raw)
        e = e.replaceAll("(?<!['\"\\w])" + java.util.regex.Pattern.quote(p) + "(?!['\"\\w])",
          scala.util.matching.Regex.quoteReplacement(a))
      scala.util.matching.Regex.quoteReplacement(e)
    })
  }

  /** Expand macro call sites until fixpoint (macros may call macros). */
  def expandMacros(text: String, macros: Map[String, MacroDef], depth: Int = 0): String = {
    if (macros.isEmpty) return text
    require(depth < 16, "macro expansion exceeded depth 16 (recursive macro?)")
    var changed = false
    val out = CallRe.replaceAllIn(text, m =>
      macros.get(m.group(1)) match {
        case Some(d) =>
          changed = true
          // raw argument text; bindParams strips quotes only at value
          // (standalone-splice) positions
          val args = splitArgs(m.group(2))
          scala.util.matching.Regex.quoteReplacement(
            bindParams(d.body, d.params.zip(args).toMap))
        case None => scala.util.matching.Regex.quoteReplacement(m.matched)
      })
    if (changed) expandMacros(out, macros, depth + 1) else out
  }

  /** Static dependency extraction for DAG wiring (the refs in the text). */
  def extractRefs(sql: String): Seq[String] =
    RefRe.findAllMatchIn(sql).map(_.group(1)).toSeq.distinct

  /** The template pipeline's output: final runnable SQL text (relations
    * renamed to catalog-safe view identifiers) plus the relations the body
    * referenced, so a caller can bind them before execution.
    * `rewriteLog` records every qualified-reference rewrite applied (see
    * renderText's 3-part rewrite) so a miscompile is observable. */
  final case class Rendered(text: String, refs: Seq[String],
                            sources: Seq[(String, String)], usesThis: Boolean,
                            rewriteLog: Seq[String] = Nil) {
    def thisView(modelName: String): String = viewName(s"__this_$modelName")
  }

  /** [start, end) spans of SQL string literals — single-quoted ('' escapes)
    * AND double-quoted ("" / \" escapes): the corpus dialect is non-ANSI
    * Spark where "…" is a string literal too (reference:
    * b2b_mart/key/interactions_funnel.sql:339 `||"_"||`), so a
    * schema.table pattern inside either literal style must not be
    * rewritten. */
  private def quotedSpans(text: String): Seq[(Int, Int)] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[(Int, Int)]
    var i = 0
    while (i < text.length) {
      val c = text(i)
      if (c == '\'' || c == '"') {
        val start = i
        i += 1
        var open = true
        while (i < text.length && open) {
          if (text(i) == '\\' && i + 1 < text.length) i += 2 // backslash escape
          else if (text(i) == c) {
            if (i + 1 < text.length && text(i + 1) == c) i += 2 // doubled escape
            else { open = false; i += 1 }
          } else i += 1
        }
        out += ((start, i))
      } else i += 1
    }
    out.toSeq
  }

  /** Trailing SQL keywords that can follow `FROM t` without being an alias
    * (`FROM t LIMIT 5` must not register `limit` as a defined alias, or a
    * ref qualified by a schema named `limit` would skip its rewrite). */
  private val aliasStopWords: Set[String] = Set(
    "on", "where", "join", "left", "right", "inner", "full", "cross", "group",
    "order", "having", "union", "select", "lateral", "window", "limit",
    "qualify", "as", "set", "intersect", "except", "distribute", "cluster",
    "sort", "using", "pivot", "unpivot", "tablesample", "anti", "semi",
    "natural", "when", "then", "else", "end", "and", "or", "not", "is",
    "null", "true", "false", "from", "with", "values", "distinct", "interval",
    "case", "between", "like", "rlike", "in", "exists", "all", "any", "by")

  /** Relation aliases and CTE names defined in `text` — identifiers that a
    * `qualifier.name.column` reference could legitimately resolve through
    * WITHOUT being a rendered `schema.model` reference. */
  private def definedNames(text: String): Set[String] = {
    val cte = """(?i)(?<![\w.])(\w+)\s+AS\s*\(""".r
      .findAllMatchIn(text).map(_.group(1).toLowerCase)
    val alias = """(?i)\b(?:FROM|JOIN)\s+[`"\w.]+\s+(?:AS\s+)?([A-Za-z_]\w*)""".r
      .findAllMatchIn(text).map(_.group(1).toLowerCase)
      .filterNot(aliasStopWords)
    // an EXPLICIT `AS name` is an alias even when the name is a keyword —
    // the corpus aliases relations `AS order` (non-ANSI Spark allows it),
    // and the stoplist above must not suppress those
    val aliasExplicit = """(?i)\b(?:FROM|JOIN)\s+[`"\w.]+\s+AS\s+([A-Za-z_]\w*)""".r
      .findAllMatchIn(text).map(_.group(1).toLowerCase)
    (cte ++ alias ++ aliasExplicit).toSet
  }

  /** Pure-text render of a dbt-style SQL body: config/comment strip, macro
    * expansion, Jinja control flow (is_incremental() included), var
    * substitution, and ref/source/this renaming — everything short of
    * touching a catalog. `runSql` executes this; CorpusSweep parses it
    * corpus-wide. */
  def renderText(modelName: String, sql: String, macros: Map[String, MacroDef],
                 vars: Map[String, String], varOf: String => String,
                 isIncremental: Boolean): Rendered = {
    // reference model bodies open with {{ config(...) }} and may carry
    // {# jinja comments #}; config is engine-side metadata here (the Model
    // carries materialization), so both are stripped for near-verbatim runs
    val stripped = CommentRe.replaceAllIn(ConfigRe.replaceAllIn(sql, ""), "")

    // macro-call expansion first: macro bodies may contain var()/ref() calls.
    // Config is stripped again afterwards — a model-template macro can carry
    // its own {{ config(...) }} inside a branch (reference:
    // macros/gold_active_users_and_devices_with_ephemeral.sql:8-26)
    val expanded = ConfigRe.replaceAllIn(expandMacros(stripped, macros), "")

    // control-flow interpretation ({% set %}/{% for %}/general {% if %}/
    // {% do %} plus evaluable {{ … }} outputs); ref/source/this stay verbatim
    // for the substitution passes below. `target.name` defaults to prod like
    // the reference's profiles (var target_name overrides for dev runs).
    val interpreted = Jinja.render(expanded, Jinja.Env(vars, isIncremental,
      bindings = Map("target" -> Jinja.VMap(scala.collection.mutable.LinkedHashMap(
        "name" -> Jinja.VStr(vars.getOrElse("target_name", "prod")))))))

    // a var() the interpreter left verbatim (missing, no default) goes to varOf
    var text = VarRe.replaceAllIn(interpreted, m =>
      scala.util.matching.Regex.quoteReplacement(
        Option(m.group(2)) match {
          case Some(default) => vars.getOrElse(m.group(1), default)
          case None => varOf(m.group(1))
        }))

    val refs = RefRe.findAllMatchIn(text).map(_.group(1)).toSeq.distinct
    text = RefRe.replaceAllIn(text, m =>
      scala.util.matching.Regex.quoteReplacement(viewName(m.group(1))))

    val sources = SourceRe.findAllMatchIn(text).toSeq.map(m => (m.group(1), m.group(2))).distinct
    text = SourceRe.replaceAllIn(text, m =>
      scala.util.matching.Regex.quoteReplacement(sourceName(m.group(1), m.group(2))))

    // dbt renders ref()/source() to literal `schema.table` names, so corpus
    // models freely reference columns by FULL QUALIFICATION —
    // `pharmacy_landing.order.id`, `onfy.lndc_user_attribution.source_corrected`
    // (reference: models/spark/onfy/onfy_transactions_new.sql:21-35). The
    // engine substitutes unqualified relation names, so rewrite 3-part
    // references to rendered relations onto the same view names. The
    // `(?=\s*\.)` lookahead restricts the rewrite to column access
    // (`schema.table.column`), leaving raw catalog reads and everything
    // else untouched.
    val rewriteLog = scala.collection.mutable.ArrayBuffer.empty[String]
    def rewriteOutsideLiterals(input: String, re: scala.util.matching.Regex,
                               guard: scala.util.matching.Regex.Match => Boolean,
                               replacement: String, what: String): String = {
      val spans = quotedSpans(input)
      def quoted(pos: Int) = spans.exists { case (s, e) => pos >= s && pos < e }
      re.replaceAllIn(input, m =>
        if (quoted(m.start) || !guard(m)) scala.util.matching.Regex.quoteReplacement(m.matched)
        else {
          rewriteLog += s"$what: '${m.matched}' -> $replacement"
          scala.util.matching.Regex.quoteReplacement(replacement)
        })
    }
    for ((schema, table) <- sources) {
      val q = s"""(?i)(?<![\\w.`])${java.util.regex.Pattern.quote(schema)}\\s*\\.\\s*${java.util.regex.Pattern.quote(table)}\\b(?=\\s*\\.)""".r
      text = rewriteOutsideLiterals(text, q, _ => true,
        sourceName(schema, table), s"source $schema.$table")
    }
    // the qualifying schema of a rendered ref is the REFERENCED model's
    // schema, which the templater does not know — accept any single
    // qualifier EXCEPT identifiers the statement itself defines (a table
    // alias or CTE named like a qualifier means `alias.<ref>.field` is a
    // struct-column access, not a schema-qualified relation), and never
    // inside string literals
    val defined = definedNames(text)
    // dbt's rendered `schema.table` relation also lets columns qualify by
    // the BARE table name (`FROM pharmacy.marketing_channel_price_fast_scd2
    // … marketing_channel_price_fast_scd2.product_id`) — our renamed relation
    // breaks that, so rewrite bare-table qualifiers onto the view name,
    // unless the statement defines an alias/CTE of the same name
    for ((schema, table) <- sources if !defined.contains(table.toLowerCase)) {
      val q = s"""(?i)(?<![\\w.`])${java.util.regex.Pattern.quote(table)}\\b(?=\\s*\\.\\s*[A-Za-z_`])""".r
      text = rewriteOutsideLiterals(text, q, _ => true,
        sourceName(schema, table), s"source-bare $schema.$table")
    }
    for (ref <- refs) {
      val q = s"""(?i)(?<![\\w.`])([A-Za-z_][A-Za-z0-9_]*)\\s*\\.\\s*${java.util.regex.Pattern.quote(ref)}\\b(?=\\s*\\.)""".r
      text = rewriteOutsideLiterals(text, q,
        m => !defined.contains(m.group(1).toLowerCase), viewName(ref), s"ref $ref")
    }

    val usesThis = ThisRe.findFirstIn(text).isDefined
    if (usesThis)
      text = ThisRe.replaceAllIn(text, viewName(s"__this_$modelName"))

    Rendered(text, refs, sources, usesThis, rewriteLog.toSeq)
  }

  /** Render + execute a dbt-style SQL body in `ctx`: render the text, parse
    * it with the parser `spark.sql` uses, [[bind]] the refs, the sources and
    * `this` (when its table exists) into the plan, and build the frame.
    *
    * @param materializeCtes when true (table-backed model runs), hot repeated
    *   CTEs are computed once per run via [[CteMaterializer]] instead of being
    *   re-planned per reference (Spark inlines CTEs). Views keep it off: a
    *   view's plan re-derives at every read, and a checkpoint captured inside
    *   a lazily re-derived plan would pin the data of whichever read first
    *   forced it. */
  def runSql(ctx: Ctx, modelName: String, sql: String,
             materializeCtes: Boolean = false): DataFrame = {
    TimeFunctions.register(ctx.spark)
    ArgCode.register(ctx.spark)

    val r = renderText(modelName, sql, ctx.macros, ctx.vars, ctx.varOf, ctx.isIncremental)
    val inputs: Map[String, DataFrame] =
      r.refs.map(ref => viewName(ref) -> ctx.ref(ref)).toMap ++
        r.sources.map { case (s, t) => sourceName(s, t) -> ctx.source(s, t) } ++
        (if (r.usesThis && ctx.warehouse.tableExists(modelName))
          Seq(r.thisView(modelName) -> ctx.warehouse.read(modelName))
        else Nil)
    val plan = bind(ctx.spark.sessionState.sqlParser.parsePlan(r.text), inputs)
    OfRows(ctx.spark,
      if (materializeCtes) CteMaterializer.materializeHot(ctx.spark, plan) else plan)
  }

  /** Binds each relation of `plan` named like one of `inputs` (case
    * insensitively, unqualified, and not shadowed by a CTE) to that input's
    * analyzed plan. The relation keeps its name as the qualifier, so column
    * resolution and its errors read as they would over a view of that name. */
  private[graft] def bind(plan: LogicalPlan, inputs: Map[String, DataFrame]): LogicalPlan = {
    val byName = inputs.map { case (n, df) => n.toLowerCase -> df }
    mapRelations(plan)(n =>
      byName.get(n.toLowerCase).map(df => SubqueryAlias(n, df.queryExecution.analyzed)))
  }

  /** Rewrites each single-part relation name for which `f` gives a plan,
    * following Spark's CTE scoping: a name an enclosing `WITH` defines is
    * left alone, and a definition sees only the definitions before it (and
    * itself under `WITH RECURSIVE`). Walks into the plans of subquery
    * expressions, but not into already-analyzed subtrees. */
  private[runtime] def mapRelations(plan: LogicalPlan, scope: Set[String] = Set.empty)(
      f: String => Option[LogicalPlan]): LogicalPlan = plan match {
    case p if p.analyzed => p
    case w: UnresolvedWith =>
      var seen = scope
      val defs = w.cteRelations.map { case (name, body, depth) =>
        val visible = if (w.allowRecursion) seen + name.toLowerCase else seen
        seen += name.toLowerCase
        (name, mapRelations(body, visible)(f).asInstanceOf[SubqueryAlias], depth)
      }
      w.copy(child = mapRelations(w.child, seen)(f), cteRelations = defs)
    case r @ UnresolvedRelation(Seq(name), _, false) if !scope(name.toLowerCase) =>
      f(name).getOrElse(r)
    case p => p.mapChildren(mapRelations(_, scope)(f)).transformExpressions {
      case s: SubqueryExpression => s.withNewPlan(mapRelations(s.plan, scope)(f))
    }
  }

  private def viewName(n: String): String = n.replaceAll("[^A-Za-z0-9_]", "_")

  /** The relation name a `{{ source(schema, table) }}` call renders to. */
  private[runtime] def sourceName(schema: String, table: String): String =
    viewName(s"${schema}__${table}")

  /** Build a DAG [[Model]] from a dbt-style SQL body; deps auto-extracted. */
  def sqlModel(name: String, sql: String,
               materialization: Materialization = Materialization.Table(),
               tags: Set[String] = Set.empty,
               meta: Map[String, String] = Map.empty,
               fileFormat: String = "parquet"): Model =
    Model(name, ctx => runSql(ctx, name, sql,
        materializeCtes = materialization != Materialization.View),
      materialization,
      deps = extractRefs(sql), tags = tags, meta = meta, fileFormat = fileFormat)

  private val ConfigArgsRe = """(?s)\{\{\s*config\s*\((.*?)\)\s*\}\}""".r

  /** Index just past the dict literal that opens `s` (brace-balanced,
    * quote-aware); -1 if unbalanced. */
  private def balancedDictEnd(s: String): Int = {
    var depth = 0; var i = 0; var quote: Char = 0
    while (i < s.length) {
      val c = s(i)
      if (quote != 0) { if (c == quote) quote = 0 }
      else if (c == '\'' || c == '"') quote = c
      else if (c == '{') depth += 1
      else if (c == '}') { depth -= 1; if (depth == 0) return i + 1 }
      i += 1
    }
    -1
  }

  private def parseConfigArgs(args: String): Map[String, Jinja.V] =
    splitArgs(args).filter(_.nonEmpty).flatMap { kv =>
      val i = kv.indexOf('=')
      if (i < 0) None
      else {
        val k = kv.substring(0, i).trim
        val raw = kv.substring(i + 1).trim
        def evalV(e: String): scala.util.Try[Jinja.V] = scala.util.Try(Jinja.eval(e,
          scala.collection.mutable.LinkedHashMap.empty,
          Jinja.Env(Map.empty, isIncremental = false)))
        evalV(raw) match {
          case scala.util.Success(v) => Seq(k -> v)
          case scala.util.Failure(_) if raw.startsWith("{") =>
            // missing-comma recovery: a dict value followed directly by the
            // next kwarg (reference corpus defect:
            // snapshots/spark/b2b_mart/scd2_product_tiers_snapshot.sql:5-8
            // closes `meta = {...}` with no comma before target_schema) —
            // evaluate the balanced dict, re-parse the remainder as kwargs
            balancedDictEnd(raw) match {
              case -1 => Seq(k -> Jinja.VStr(stripQuotes(raw)))
              case end =>
                val head = evalV(raw.substring(0, end))
                  .getOrElse(Jinja.VStr(stripQuotes(raw.substring(0, end))))
                val rest = raw.substring(end).trim.stripPrefix(",").trim
                (k -> head) +: (if (rest.nonEmpty) parseConfigArgs(rest).toSeq else Nil)
            }
          case scala.util.Failure(_) => Seq(k -> Jinja.VStr(stripQuotes(raw)))
        }
      }
    }.toMap

  /** Parse the kwargs of a model's leading `{{ config(...) }}` block into
    * Jinja values (reference: models/spark/gold/gold_orders.sql:1-17).
    * Values are Python-ish literals evaluated by [[Jinja]]'s expression
    * parser; anything it cannot evaluate falls back to its raw quoted text. */
  def parseConfig(sql: String): Map[String, Jinja.V] =
    ConfigArgsRe.findFirstMatchIn(sql) match {
      case None => Map.empty
      case Some(m) => parseConfigArgs(m.group(1))
    }

  /** The config that is actually in effect after macro expansion and control
    * flow: a model-template macro can define DIFFERENT `{{ config(...) }}`
    * blocks in `{% if %}` branches selected by its argument (reference:
    * macros/gold_active_users_and_devices_with_ephemeral.sql:5-48, where
    * `gold_active_devices_with_ephemeral.sql` is just the one-line call).
    * Each config block is masked as an opaque marker so Jinja never has to
    * evaluate it (nested dict braces would confuse mustache matching), the
    * control flow is rendered, and the surviving marker's block is parsed. */
  def effectiveConfig(sql: String, macros: Map[String, MacroDef],
                      vars: Map[String, String] = Map.empty): Map[String, Jinja.V] = {
    val expanded = expandMacros(CommentRe.replaceAllIn(sql, ""), macros)
    val blocks = ConfigArgsRe.findAllMatchIn(expanded).toVector
    if (blocks.isEmpty) return Map.empty
    // no 1-block fast path: a lone config inside a DEAD {% if %} branch must
    // not apply, so control flow is rendered for every block count; only if
    // rendering fails (corpus models may reference unprovided context) fall
    // back to the first block — the pre-render behavior
    val masked = blocks.zipWithIndex.reverse.foldLeft(expanded) {
      case (txt, (m, i)) =>
        txt.substring(0, m.start) + s"__GRAFT_CONFIG_${i}__" + txt.substring(m.end)
    }
    scala.util.Try(Jinja.render(masked, Jinja.Env(vars, isIncremental = false,
      bindings = Map("target" -> Jinja.VMap(scala.collection.mutable.LinkedHashMap(
        "name" -> Jinja.VStr(vars.getOrElse("target_name", "prod")))))))) match {
      case scala.util.Success(rendered) =>
        """__GRAFT_CONFIG_(\d+)__""".r.findFirstMatchIn(rendered) match {
          case Some(m) => parseConfigArgs(blocks(m.group(1).toInt).group(1))
          case None => Map.empty
        }
      case scala.util.Failure(_) => parseConfigArgs(blocks.head.group(1))
    }
  }

  /** dbt config → engine [[Materialization]] (default 'view', like dbt).
    * `incremental_strategy` defaults to 'merge' for delta relations in
    * dbt-spark. `file_format` is not read here: it rides on the [[Model]],
    * and [[Warehouse.routeFormat]] writes a 'delta' model to the
    * transaction log. */
  def materializationFromConfig(cfg: Map[String, Jinja.V]): Materialization = {
    def str(k: String): Option[String] = cfg.get(k).map(_.render)
    def strList(k: String): Seq[String] = cfg.get(k).map {
      case Jinja.VList(xs) => xs.map(_.render)
      case v => Seq(v.render)
    }.getOrElse(Nil)
    val partitionBy = strList("partition_by")
    val osc = str("on_schema_change") match {
      case Some("sync_all_columns") => OnSchemaChange.SyncAllColumns
      case Some("append_new_columns") => OnSchemaChange.AppendNewColumns
      case _ => OnSchemaChange.Ignore
    }
    str("materialized").getOrElse("view") match {
      case "view" => Materialization.View
      case "table" => Materialization.Table(partitionBy)
      case "incremental" => str("incremental_strategy").getOrElse("merge") match {
        case "insert_overwrite" => Materialization.IncrementalInsertOverwrite(partitionBy, osc)
        case "append" => Materialization.IncrementalAppend(partitionBy)
        case "merge" => Materialization.IncrementalMerge(strList("unique_key"), partitionBy, osc)
        case other => throw new IllegalArgumentException(
          s"unsupported incremental_strategy='$other'")
      }
      case other => throw new IllegalArgumentException(s"unsupported materialized='$other'")
    }
  }

  private def tagsOf(cfg: Map[String, Jinja.V]): Set[String] =
    cfg.get("tags").map {
      case Jinja.VList(xs) => xs.map(_.render).toSet
      case v => Set(v.render)
    }.getOrElse(Set.empty)

  private def metaOf(cfg: Map[String, Jinja.V]): Map[String, String] =
    cfg.get("meta").collect {
      case Jinja.VMap(m) => m.map { case (k, v) => k -> v.render }.toMap
    }.getOrElse(Map.empty[String, String])

  /** Build a [[Model]] whose materialization, tags, and meta come from the
    * SQL's own `{{ config(...) }}` block — full dbt semantics, so a
    * reference model body carries its complete contract in one file. Pass
    * `macros` when the model is a macro call carrying its config inside the
    * macro body (the `gold_active_*_with_ephemeral` template shape). */
  def sqlModelAuto(name: String, sql: String): Model =
    sqlModelAuto(name, sql, Map.empty[String, MacroDef])

  def sqlModelAuto(name: String, sql: String, macros: Map[String, MacroDef],
                   vars: Map[String, String] = Map.empty): Model = {
    val cfg = effectiveConfig(sql, macros, vars)
    sqlModel(name, sql, materializationFromConfig(cfg), tagsOf(cfg), metaOf(cfg),
      fileFormat = cfg.get("file_format").map(_.render).getOrElse("parquet"))
  }

  private val SnapshotBlockRe =
    """(?s)\{%-?\s*snapshot\s+(\w+)\s*-?%\}(.*?)\{%-?\s*endsnapshot\s*-?%\}""".r

  /** Parse a snapshots/-tree file — `{% snapshot name %}{{ config(...) }}
    * body {% endsnapshot %}` (reference: 54 files under snapshots/spark/) —
    * into a DAG [[Model]] with [[Materialization.Snapshot]] built from its
    * own config: unique_key, strategy timestamp/check (check_cols='all' or a
    * list), invalidate_hard_deletes. */
  def snapshotModel(text: String, macros: Map[String, MacroDef] = Map.empty): Model = {
    val m = SnapshotBlockRe.findFirstMatchIn(text).getOrElse(
      throw new IllegalArgumentException("no {% snapshot %} block in file"))
    val (name, body) = (m.group(1), m.group(2))
    val cfg = effectiveConfig(body, macros)
    def str(k: String) = cfg.get(k).map(_.render)
    val uniqueKey = str("unique_key").getOrElse(
      throw new IllegalArgumentException(s"snapshot $name: config needs unique_key"))
    val strategy = str("strategy") match {
      case Some("timestamp") => Scd2Strategy.Timestamp(str("updated_at").getOrElse(
        throw new IllegalArgumentException(s"snapshot $name: timestamp strategy needs updated_at")))
      case Some("check") => Scd2Strategy.Check(cfg.get("check_cols") match {
        case Some(Jinja.VStr("all")) | None => Nil // all non-key payload columns
        case Some(Jinja.VList(xs)) => xs.map(_.render)
        case Some(v) => Seq(v.render)
      })
      case other => throw new IllegalArgumentException(
        s"snapshot $name: unsupported strategy $other")
    }
    Model(name, ctx => runSql(ctx, name, body),
      Materialization.Snapshot(uniqueKey, strategy,
        cfg.get("invalidate_hard_deletes").exists(_.truthy)),
      deps = extractRefs(body), tags = tagsOf(cfg), meta = metaOf(cfg),
      fileFormat = str("file_format").getOrElse("parquet"))
  }
}
