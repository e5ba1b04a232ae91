package graft.hotdog

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.hotdog.config._
import graft.hotdog.exprs.{codepointsToString, handlebarsEscape}

/** Column instance of the handlebars render algebra (see config.Hb):
  * values are string Columns, the failure channel is a boolean Column
  * (constant false unless the template can actually fail on some row). */
private[hotdog] object ColumnHbOps extends config.Hb.Ops[Column, Column] {
  private val F = org.apache.spark.sql.functions
  def lit(s: String): Column = F.lit(s)
  def concat(vs: Seq[Column]): Column =
    if (vs.isEmpty) F.lit("") else F.concat(vs: _*)
  def escape(v: Column): Column = handlebarsEscape(F.coalesce(v, F.lit("")))
  def raw(v: Column): Column = F.coalesce(v, F.lit(""))
  def ifTruthy(c: Column, t: => (Column, Column),
      f: => (Column, Column)): (Column, Column) = {
    val cond = c.isNotNull && F.length(c) > 0
    val (tv, tf) = t
    val (fv, ff) = f
    (F.when(cond, tv).otherwise(fv), F.when(cond, tf).otherwise(ff))
  }
  def chooseByKey(key: Column, table: Seq[(String, Column)]): Column =
    table.foldRight(F.lit("")) { case ((n, v), acc) =>
      F.when(key === F.lit(n), F.coalesce(v, F.lit(""))).otherwise(acc)
    }
  def noFail: Column = F.lit(false)
  def failNow: Column = F.lit(true)
  def orF(a: Column, b: Column): Column = a || b
}

/** The rule cascade (reference src/connection.rs:85-241) compiled into ONE
  * Catalyst projection — the structural property replacing hotdog's
  * per-line while-loop: no per-rule scans, no explode, no union; the whole
  * decode→parse→route path is a single narrow whole-stage-codegen stage.
  *
  * Exact semantics carried over (per-line, per-rule, per-action):
  *  - rules run in config order; a rule on a NULL optional field never
  *    matches (src/connection.rs:124-148)
  *  - jmespath matcher wins over regex when both present (src/rules.rs:70,86)
  *  - variables per (line, rule): builtins msg/version/iso8601
  *    (src/connection.rs:119-122), regex named groups override builtins
  *    only when they captured (src/rules.rs:90-96), jmespath string result
  *    becomes `value` (src/rules.rs:78-82)
  *  - actions: replace sets the output buffer; merge rewrites it from the
  *    pristine msg (invalid-JSON msg → continue_rules=false but the action
  *    list CONTINUES — src/connection.rs:211-222 has no break); forward
  *    emits (empty buffer → raw msg, src/connection.rs:184-186) then breaks
  *    with continue_rules=false; stop sets continue_rules=false
  *  - the output buffer resets per rule (src/connection.rs:117); transforms
  *    never mutate the msg later rules see (A7)
  *  - ≤1 routed row per input line (forward implies stop)
  */
object Router {

  /** chrono's Utc::now().to_rfc3339(): 2020-04-18T22:16:09.956153+00:00 */
  val DefaultClock: Column =
    date_format(current_timestamp(), "yyyy-MM-dd'T'HH:mm:ss.SSSSSSxxx")

  /** tokens array<int> → line string (P6). */
  def decoded(df: DataFrame): DataFrame =
    df.withColumn("line", codepointsToString(col("tokens")))

  /** line → 5-field parsed struct `p` (null = parse error). */
  def parsed(df: DataFrame): DataFrame =
    df.withColumn("p", exprs.syslogParse(col("line")))

  /** Full pipeline projection: decode → parse → route. Input must have the
    * `sequences` shape; output adds line, parsed fields, topic, output and
    * error-flag columns. `clock` is injectable so equality tests can pin
    * the `{{iso8601}}` builtin. */
  def route(sequences: DataFrame, cfg: HotdogConfig,
      clock: Column = DefaultClock): DataFrame = {
    // parse straight from tokens (fused decode+parse); the decoded `line`
    // column is declared independently and only materializes when a
    // consumer reads it (column pruning drops it on the sink path)
    val withParsed = decoded(sequences)
      .withColumn("p", exprs.syslogParseTokens(col("tokens")))
    routeParsed(withParsed, cfg, clock)
  }

  /** Route a DataFrame that already has `line` and `p`.
    *
    * Plan shape (all layers fuse into ONE whole-stage-codegen stage; the
    * layering exists so each expensive primitive — jmespath parse, regex
    * match, group extract — is evaluated AT MOST ONCE per row instead of
    * once per reference in the cascade):
    *   L1 decode(line)  L2 parse(p)
    *   L3 matchers (_hd_rx_i captures-struct / _hd_m_i / _hd_jm_i)
    *   L5 the cascade.
    * CollapseProject keeps non-cheap multiply-referenced producers in
    * their own Project, so Catalyst preserves this shape. */
  def routeParsed(df: DataFrame, cfg: HotdogConfig, clock: Column): DataFrame = {
    val p = col("p")
    val parseOk = p.isNotNull
    val msgCol = p.getField("msg")

    def fieldOf(rule: HRule): Column = rule.field match {
      case "msg" => msgCol
      case f     => p.getField(f)
    }

    // ---- L3: hoisted matcher primitives, one column per rule (each runs
    // its regex/jmespath engine exactly ONCE per row: regexCaptures returns
    // matched + all named groups from a single find()) ----
    val matcherCols: Seq[(String, Column)] = cfg.rules.zipWithIndex.flatMap {
      case (rule, i) =>
        rule.jmespath match {
          case Some(_) =>
            Seq(s"_hd_jm_$i" -> exprs.jmespathEval(fieldOf(rule), lit(rule.jmespathRaw.get)))
          case None =>
            rule.regex match {
              case Some(rx) if rx.namedGroups.nonEmpty =>
                Seq(s"_hd_rx_$i" -> exprs.regexCaptures(fieldOf(rule),
                  lit(rx.javaPattern), rx.namedGroups.map(rx.groupIndexOf)))
              case Some(rx) =>
                Seq(s"_hd_m_$i" -> coalesce(
                  fieldOf(rule).isNotNull && fieldOf(rule).rlike(rx.javaPattern),
                  lit(false)))
              case None =>
                // a rule with neither matcher loads fine in the reference
                // (settings.rs defaults both to None) and simply never
                // matches (rules.rs:59-100 falls through) — constant false
                Seq(s"_hd_m_$i" -> lit(false))
            }
        }
    }
    val withMatchers = df.withColumns(matcherCols.toMap)

    // per-rule matched column (cheap, derived from the hoisted primitives)
    def matchedOf(rule: HRule, i: Int): Column = rule.jmespath match {
      // never null: a null field does not match
      case Some(_) => col(s"_hd_jm_$i").getField("matched")
      case None => rule.regex match {
        case Some(rx) if rx.namedGroups.nonEmpty =>
          col(s"_hd_rx_$i").getField("matched")
        case _ => col(s"_hd_m_$i")
      }
    }
    // per-rule variable maps + template rendering (A1/A2/F2/F3)
    def varsOf(rule: HRule, i: Int): Map[String, Column] = {
      val builtins = Map[String, Column](
        "msg" -> msgCol,
        "version" -> lit(model.Version),
        "iso8601" -> clock)
      val groupVars: Map[String, Column] = rule.regex match {
        case Some(rx) if rule.jmespath.isEmpty =>
          rx.namedGroups.zipWithIndex.map { case (name, k) =>
            // null ⇔ group did not participate (or no match); "" ⇔ captured
            // an empty string, which DOES override a colliding builtin —
            // reference src/rules.rs:90-96 inserts for every Some(capture)
            val ext = element_at(col(s"_hd_rx_$i").getField("gs"), k + 1)
            val v = builtins.get(name) match {
              case Some(b) => when(ext.isNotNull, ext).otherwise(b)
              case None    => coalesce(ext, lit(""))
            }
            name -> v
          }.toMap
        case _ => Map.empty
      }
      val valueVar: Map[String, Column] = rule.jmespath match {
        case Some(_) => Map("value" -> coalesce(
          col(s"_hd_jm_$i").getField("value"), builtins.getOrElse("value", lit(""))))
        case None => Map.empty
      }
      builtins ++ groupVars ++ valueVar
    }
    // the full handlebars engine over Columns (blocks, else-chains,
    // context frames, lookup — see config.Hb); the second element is the
    // per-row RENDER-FAILURE flag mirroring hb.render(...).is_err(), which
    // is constant-false for any template without an unreachable helper and
    // folds out of the plan
    def renderWith(vars: Map[String, Column])(t: Template): (Column, Column) =
      config.Hb.render(t, vars, ColumnHbOps)

    // msg validity under a firing rule — the EXACT null condition of a
    // hoisted merge (jsonHotdogMerge is null ⇔ msg isn't valid JSON; an
    // invalid rendered template fails the task like the reference's
    // unwrap). Routing kill flags and merge-error counters through this
    // parse-only check instead of `merged.isNull` means a consumer that
    // never reads the merged OUTPUT (per-topic stats, error counters)
    // prunes the merge+serialize work entirely — at 1e12 rows the merge
    // was the stats cascade's dominant term. Two flavors:
    //  - a rule matched BY a jmespath matcher on the msg field: matched
    //    already implies the msg parsed, so validity is constant true
    //    under `fires` and the check folds away completely;
    //  - otherwise: one shared parse-only `_hd_jsonok` column per row.
    def msgValidUnder(rule: HRule): Column =
      if (rule.jmespath.isDefined && rule.field == "msg") lit(true)
      else col("_hd_jsonok")
    val needJsonOk = cfg.rules.exists(r =>
      r.actions.exists(_.isInstanceOf[AMerge]) &&
        !(r.jmespath.isDefined && r.field == "msg"))

    // ---- L5: hoisted merges (only rules whose OUTPUT needs the merged
    // string — a statically-non-object merge leaves the buffer at the raw
    // msg, so it needs no merge at all), guarded by the rule's matched flag
    // so the jackson work runs at most once per (row, merge action) and
    // only on matching rows; multiply-referenced downstream, so
    // CollapseProject keeps the layer (single evaluation) ----
    val mergeCols: Seq[(String, Column)] = cfg.rules.zipWithIndex.flatMap {
      case (rule, i) =>
        val render = renderWith(varsOf(rule, i)) _
        rule.actions.zipWithIndex.collect {
          case (AMerge(jsonT, false), j) =>
            val (rhs, rhsFail) = render(jsonT)
            // a row whose template render fails never reaches the merge
            // (hb.render Err short-circuits perform_merge) — merged stays
            // null and the buffer is left unchanged downstream
            val guard =
              if (jsonT.mayRenderFail) matchedOf(rule, i) && !rhsFail
              else matchedOf(rule, i)
            s"_hd_mg_${i}_$j" -> when(guard,
              exprs.jsonHotdogMerge(msgCol, rhs))
        }
    }
    val jsonOkCol: Map[String, Column] =
      if (needJsonOk) Map("_hd_jsonok" -> exprs.jsonValid(msgCol))
      else Map.empty
    val staged =
      if (mergeCols.isEmpty && jsonOkCol.isEmpty) withMatchers
      else withMatchers.withColumns(mergeCols.toMap ++ jsonOkCol)

    // ---- L6: the cascade ----
    final case class CompiledRule(
        fires: Column,              // rule matched AND cascade still alive
        kill: Column,               // continue_rules=false by end of this rule (given fires)
        emit: Option[(Column, Column)], // (topic, output) when rule forwards
        mergeInvalid: Column,       // count of merge-of-invalid-json errors (given fires)
        mergeTargetNotJson: Column, // count of merge-target-not-json errors (given fires)
        topicParseFailed: Column)   // count of failed forward-topic renders (given fires)

    var alive: Column = parseOk
    val compiledAndEmits = cfg.rules.zipWithIndex.map { case (rule, i) =>
      val matched = matchedOf(rule, i)
      val render = renderWith(varsOf(rule, i)) _

      // ---- symbolic action execution (A1-A8) ----
      var output: Column = lit("")
      var outputIsInitial = true // statically known still-empty buffer
      var kill: Column = lit(false)
      var emit: Option[(Column, Column)] = None
      var mergeInvalid: Column = lit(0L)
      var mergeTarget: Column = lit(0L)
      var topicFail: Column = lit(0L)
      var broke = false
      rule.actions.zipWithIndex.foreach { case (action, j) =>
        if (!broke) action match {
          case AForward(topicT) =>
            val (topic, tfail) = render(topicT)
            val out =
              if (outputIsInitial) msgCol
              else when(output === "", msgCol).otherwise(output)
            if (topicT.mayRenderFail) {
              // reference src/connection.rs:188-207: a failed topic render
              // counts error.topic_parse_failed, emits NOTHING, and leaves
              // continue_rules TRUE (later rules still run); success sends
              // and stops. Both paths break the action loop.
              emit = Some((when(!tfail, topic), out)) // null topic ⇒ no emit
              kill = kill || !tfail
              topicFail = topicFail + when(tfail, 1L).otherwise(0L)
            } else {
              emit = Some((topic, out))
              kill = lit(true)
            }
            broke = true // forward breaks the action loop
          case AMerge(jsonT, staticallyNonObject) =>
            // kill + error counters run on the parse-only validity check
            // (≡ merged.isNull under `fires` — see msgValidUnder above), so
            // consumers that never read `output` prune the merge entirely.
            // A failing template render (hb.render Err) kills the cascade
            // with NO stat and leaves the buffer unchanged
            // (src/connection.rs:336-339 falls to Err after the msg parse).
            val valid = msgValidUnder(rule)
            val rfail: Column =
              if (jsonT.mayRenderFail) render(jsonT)._2 else lit(false)
            if (staticallyNonObject) {
              // perform_merge returns the buffer (the msg) unchanged + stat
              // — but only when the msg IS valid json and the render
              // succeeded; no merged string is ever needed, so none is
              // hoisted
              val ok = if (jsonT.mayRenderFail) valid && !rfail else valid
              output = when(ok, msgCol).otherwise(output)
              outputIsInitial = false
              mergeTarget = mergeTarget + when(ok, 1L).otherwise(0L)
              kill = if (jsonT.mayRenderFail) kill || !valid || rfail
                     else kill || !valid
              mergeInvalid = mergeInvalid + when(valid, 0L).otherwise(1L)
            } else {
              // hoisted in L5: null ⇔ (not matched) OR msg wasn't valid
              // JSON OR the render failed. Invalid msg: continue_rules=
              // false, buffer unchanged, and the action list continues
              // (NO break)
              val merged = col(s"_hd_mg_${i}_$j")
              kill = if (jsonT.mayRenderFail) kill || !valid || rfail
                     else kill || !valid
              mergeInvalid = mergeInvalid + when(valid, 0L).otherwise(1L)
              output = if (outputIsInitial) coalesce(merged, lit("")) else coalesce(merged, output)
              outputIsInitial = false
            }
          case AReplace(t) =>
            val (rendered, rfail) = render(t)
            // failed render: output is simply not assigned
            // (src/connection.rs:233-239 `if let Ok(rendered)`)
            output = if (t.mayRenderFail) when(rfail, output).otherwise(rendered)
                     else rendered
            outputIsInitial = false
          case AStop =>
            kill = lit(true)
        }
      }

      val fires = alive && matched
      alive = alive && !(matched && kill)
      // hoist the (possibly large) render trees into guarded columns so
      // they are generated ONCE and the cascade below handles attributes —
      // keeps each whole-stage-codegen method under the JVM 64KB limit
      // even when a join/filter/write fuses into the same stage
      val hoistedEmit = emit.map { case (topicTree, outTree) =>
        (s"_hd_topic_$i" -> when(matched, topicTree),
          s"_hd_out_$i" -> when(matched, outTree))
      }
      (CompiledRule(fires, kill, hoistedEmit.map { case ((tn, _), (on, _)) =>
        (col(tn), col(on))
      }, mergeInvalid, mergeTarget, topicFail), hoistedEmit)
    }

    val emitCols: Seq[(String, Column)] =
      compiledAndEmits.flatMap(_._2).flatMap { case (t, o) => Seq(t, o) }
    val compiled = compiledAndEmits.map(_._1)
    val stagedFinal =
      if (emitCols.isEmpty) staged else staged.withColumns(emitCols.toMap)

    val emitting = compiled.filter(_.emit.isDefined)
    // the extra `isNotNull &&` is a semantic no-op (a matched rule's render
    // is never null) that references each hoisted column twice — keeping
    // CollapseProject from inlining the big render trees back into this
    // projection (which would blow the per-operator codegen method past
    // the JVM 64KB limit when a join/filter/sink fuses into the stage)
    val topicCol =
      if (emitting.isEmpty) lit(null).cast("string")
      else coalesce(emitting.map(r =>
        when(r.fires && r.emit.get._1.isNotNull, r.emit.get._1)): _*)
    val outputCol =
      if (emitting.isEmpty) lit(null).cast("string")
      else coalesce(emitting.map(r =>
        // gate on the TOPIC too: a forward whose topic render failed emits
        // neither topic nor output (the topic column is null exactly then),
        // so both cascades must select the same rule
        when(r.fires && r.emit.get._1.isNotNull && r.emit.get._2.isNotNull,
          r.emit.get._2)): _*)
    val mergeInvalidCol = compiled.map(r =>
      when(r.fires, r.mergeInvalid).otherwise(0L))
      .reduceOption(_ + _).getOrElse(lit(0L))
    val mergeTargetCol = compiled.map(r =>
      when(r.fires, r.mergeTargetNotJson).otherwise(0L))
      .reduceOption(_ + _).getOrElse(lit(0L))
    val topicFailCol = compiled.map(r =>
      when(r.fires, r.topicParseFailed).otherwise(0L))
      .reduceOption(_ + _).getOrElse(lit(0L))

    // pass through every input column (doc_id, tokens, n_tok, source, plus
    // any extras like event_time for streaming windows)
    val passthrough = df.columns
      .filterNot(c => c == "line" || c == "p" || c.startsWith("_hd_"))
      .map(col).toSeq
    // The expensive computed columns are wrapped in the NoPushdown barrier
    // AT THE PROJECTION: Spark's filter-pushdown-through-Project only
    // requires the PROJECT FIELDS to be deterministic (the predicate's own
    // determinism is irrelevant for Project substitution), so a consumer's
    // `filter($"topic".isNotNull)` would otherwise be rewritten with the
    // entire cascade tree substituted in and re-evaluated per row beneath
    // the router. One nondeterministic-marked field pins every such filter
    // above this projection, where topic/output are plain attributes.
    stagedFinal.select(passthrough ++ Seq(
      col("line"),
      parseOk.as("parse_ok"),
      msgCol.as("msg"),
      p.getField("severity").as("severity"),
      p.getField("facility").as("facility"),
      p.getField("hostname").as("hostname"),
      p.getField("appname").as("appname"),
      exprs.noPushdown(topicCol).as("topic"),
      exprs.noPushdown(outputCol).as("output"),
      exprs.noPushdown(mergeInvalidCol).as("err_merge_invalid_json"),
      exprs.noPushdown(mergeTargetCol).as("err_merge_target_not_json"),
      exprs.noPushdown(topicFailCol).as("err_topic_parse_failed")): _*)
  }

  /** E2 test-mode (reference src/rules.rs:11-52): per line, which rules'
    * MATCHERS fire (no actions run; only `field: msg` rules participate).
    * Returns (line_no, matches array<string>) where each match is the
    * rule's Display form. The raw line (not the parsed msg) is matched —
    * test-mode skips syslog parsing entirely. */
  def testModeFile(spark: org.apache.spark.sql.SparkSession, path: String,
      cfg: HotdogConfig): DataFrame = {
    import spark.implicits._
    // line numbers must follow file order: zipWithIndex is the one place
    // an RDD primitive is genuinely needed (monotonically_increasing_id
    // does not promise file-order density)
    val numbered = spark.read.textFile(path).rdd.zipWithIndex()
      .map { case (l, i) => (i + 1, l) }.toDF("line_no", "line")
    testMode(numbered, cfg)
  }

  def testMode(lines: DataFrame, cfg: HotdogConfig): DataFrame = {
    val lineCol = col("line")
    val matchCols = cfg.rules.filter(_.field == "msg").map { rule =>
      val matched = rule.jmespath match {
        case Some(_) =>
          exprs.jmespathEval(lineCol, lit(rule.jmespathRaw.get)).getField("matched")
        case None => rule.regex match {
          case Some(rx) => coalesce(lineCol.rlike(rx.javaPattern), lit(false))
          case None     => lit(false) // matcher-less rule: never matches
        }
      }
      when(matched, lit(rule.display)).otherwise(lit(null))
    }
    lines.select(
      col("line_no"),
      filter(array(matchCols: _*), c => c.isNotNull).as("matches"))
  }
}
