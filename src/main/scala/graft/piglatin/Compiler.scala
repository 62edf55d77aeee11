package graft.piglatin

import scala.collection.mutable
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.dsl.{PigFunctions => PF}
import graft.ops.Rank
import Ast._

/** Pig Latin → DataFrame compiler: the front-end that makes this engine
  * a drop-in for the reference's user surface (SURVEY.md §3 lifecycle:
  * parse → compile per statement → lazy until STORE/DUMP, exactly like
  * `PigServer.registerQuery` [R: src/org/apache/pig/PigServer.java]).
  *
  * Supported subset: LOAD (PigStorage/TextLoader/JsonLoader/OrcStorage/
  * AvroStorage/parquet) AS schema, STORE, FILTER, FOREACH..GENERATE (+FLATTEN, AS),
  * GROUP/COGROUP [ALL], CUBE rel BY CUBE/ROLLUP(dims), JOIN (inner/
  * outer, USING 'replicated'|'skewed'|'merge'), CROSS, ORDER BY,
  * RANK [BY .. DENSE], LIMIT, DISTINCT, UNION [ONSCHEMA], SPLIT,
  * SAMPLE, STREAM rel THROUGH `cmd` [AS (schema)], ASSERT,
  * DUMP/DESCRIBE/EXPLAIN, nested FOREACH blocks, expressions (arith/
  * bool/compare/MATCHES/IS NULL/IN/bincond/CASE searched + simple
  * forms/casts/map-lookup/positional $n/builtin functions), macros +
  * %declare (preprocessor),
  * user functions via [[registerFunction]] (+ DEFINE aliasing) and
  * ORDER … USING via [[registerComparator]].
  * Out of scope (documented per SURVEY.md §7.3): NATIVE-MR,
  * scripting UDFs.
  *
  * The GROUP→FOREACH aggregate fusion happens here: a FOREACH over a
  * grouped relation whose generators are group keys / algebraic
  * aggregates compiles straight to `groupBy().agg()` — Spark then runs
  * partial/final aggregation, which is the reference's combiner
  * optimization [R: …/mapReduceLayer/CombinerOptimizer.java] for free.
  */
final class PigEngine(spark: SparkSession, baseDir: Option[String] = None) {

  /** A compiled relation: the DataFrame plus (if it came from GROUP) the
    * pre-group lineage needed for aggregate fusion.
    */
  private final case class RelInfo(
      df: () => DataFrame, // lazy: bag materialization only if referenced
      grouped: Option[GroupInfo] = None)

  private final case class GroupInfo(
      pre: DataFrame,              // join of the cogrouped inputs' rows (unary: the input)
      keyCols: Seq[(Column, String)], // key expr → output name ("group" or group.field)
      bagAliases: Seq[String],     // bag column names (one per input alias)
      mode: String = "group",      // "group" | "cube" | "rollup" | "sets"
      sets: Seq[Seq[String]] = Nil) // explicit grouping sets (mode "sets")

  private val env = mutable.LinkedHashMap[String, RelInfo]()

  /** Statement trace for ILLUSTRATE lineage (alias → the RelOp that
    * produced it, in script order; SPLIT branches record as filters). */
  private val history = mutable.ArrayBuffer[(String, RelOp)]()

  // ---------------------------------------------------- user extensibility
  //
  // The reference's core extensibility surface is EvalFunc + DEFINE
  // [R: src/org/apache/pig/EvalFunc.java]: users register a function,
  // scripts call it like a builtin. Here a user function is a Column
  // transform (so it stays inside Catalyst/codegen — the Spark-native
  // analog of an EvalFunc); `DEFINE alias Target;` aliases resolve
  // textually in the preprocessor, so an alias of a registered function
  // reaches the registry under its target name.
  private val userFns = mutable.Map[String, Seq[Column] => Column]()

  // ORDER … USING comparator: the reference sorts through a user
  // comparator class [R: …/expressionOperators/POUserComparisonFunc.java].
  // Re-expressed Spark-first as sort-by-computed-key: the comparator is a
  // key transform k => k' and the engine sorts by k' — total order
  // preserved, range-partitioned sort unchanged (no per-comparison UDF
  // call, which would defeat codegen'd sort).
  private val comparators = mutable.Map[String, Column => Column]()

  /** Register a scalar function callable from scripts as `name(args)`.
    * Returns this engine for chaining. Case-insensitive, like builtins;
    * registration wins over a builtin of the same name only if the
    * builtin doesn't exist (builtins keep priority so scripts can't
    * silently change semantics).
    */
  def registerFunction(name: String, fn: Seq[Column] => Column): PigEngine = {
    userFns(name.toUpperCase) = fn; this
  }

  /** Register a sort comparator for `ORDER … USING name`: a key
    * transform; rows sort by `fn(key)` (asc/desc per key as written).
    */
  def registerComparator(name: String, fn: Column => Column): PigEngine = {
    comparators(name.toUpperCase) = fn; this
  }

  // Aggregate user functions — the reference's Algebraic UDF surface
  // [R: src/org/apache/pig/Algebraic.java]: a registered aggregate
  // participates in the GROUP→FOREACH fusion, so Spark runs it with
  // partial/final aggregation (the combiner) like any builtin agg.
  private val userAggs = mutable.Map[String, Seq[Column] => Column]()

  /** Register an aggregate function (a Column aggregate expression, e.g.
    * built from `functions.sum`/an `Aggregator`) callable from FOREACH
    * over a grouped relation; it fuses into `groupBy().agg()`.
    */
  def registerAggregate(name: String, fn: Seq[Column] => Column): PigEngine = {
    userAggs(name.toUpperCase) = fn; this
  }

  def relation(alias: String): DataFrame =
    env.getOrElse(alias, sys.error(s"unknown alias $alias")).df()

  def aliases: Seq[String] = env.keys.toSeq

  def run(script: String): PigEngine = {
    val expanded = Preprocessor.expand(script)
    val stmts = Parser.parse(expanded).fold(e => sys.error(s"parse error: $e"), identity)
    stmts.foreach(exec)
    this
  }

  // ------------------------------------------------------------- statements

  private def exec(stmt: Stmt): Unit = stmt match {
    case Assign(alias, op) =>
      env(alias) = compileOp(alias, op)
      history += ((alias, op))
    case SplitStmt(in, branches, otherwise) =>
      // track the persist so Rel.releaseTracked() can unpersist it —
      // a long-running session executing many SPLITs would otherwise
      // grow the block manager unboundedly (r15 review)
      val parent = graft.dsl.Rel.track(
        relation(in).persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
      val conds = branches.map { case (_, c) => compileExpr(parent, c) }
      branches.zip(conds).foreach { case ((a, _), c) =>
        env(a) = RelInfo(() => parent.filter(c))
      }
      otherwise.foreach { a =>
        env(a) = RelInfo(() => parent.filter(!conds.reduce(_ || _)))
      }
      // lineage view of SPLIT: each branch is a filter over the parent
      branches.foreach { case (a, c) => history += ((a, FilterOp(in, c))) }
      otherwise.foreach { a =>
        history += ((a, FilterOp(in, Not(branches.map(_._2: Expr).reduceLeft((l, r) => Or(l, r))))))
      }
    case StoreStmt(alias, path, using) =>
      val df = relation(alias)
      val target = resolvePath(path)
      using.map(_.name.toLowerCase) match {
        case Some("pigstorage") =>
          val sep = using.get.args.headOption.collect { case Lit(s: String) => s }.getOrElse("\t")
          df.write.mode("overwrite").option("sep", sep).csv(target)
        case Some("jsonstorage") => df.write.mode("overwrite").json(target)
        case Some("orcstorage") => graft.sources.Loaders.storeOrc(df, target)
        case Some("avrostorage") => graft.sources.Loaders.storeAvro(df, target)
        case _ => df.write.mode("overwrite").parquet(target)
      }
    case DumpStmt(alias) => relation(alias).show(100, truncate = false)
    case DescribeStmt(alias) => println(s"$alias: ${relation(alias).schema.simpleString}")
    case ExplainStmt(alias) => relation(alias).explain("formatted")
    case IllustrateStmt(alias) =>
      illustrate(alias).foreach { case (a, df) =>
        println(s"--- $a: ${df.schema.simpleString}")
        df.show(8, truncate = false)
      }
    case AssertStmt(alias, cond, msg) =>
      val df = relation(alias)
      if (!df.filter(!coalesce(compileExpr(df, cond), lit(false))).isEmpty)
        throw new IllegalStateException(s"ASSERT $alias failed: ${msg.getOrElse("")}")
    // spork's fork-specific CACHE statement
    // [R: …/spark/converter/CacheConverter.java — Pig-on-Spark adds an
    // explicit cache hint; plain Apache Pig has no analog]: pin the
    // relation so later statements reuse the materialization instead of
    // recomputing the lineage. MEMORY_AND_DISK (not MEMORY_ONLY): at
    // scale an over-memory cache must spill, not evict-and-recompute.
    case CacheStmt(alias) =>
      val df = relation(alias)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      env(alias) = RelInfo(() => df)
  }

  // ------------------------------------------------------------ ILLUSTRATE

  private def inputsOf(op: RelOp): Seq[String] = op match {
    case _: Load => Nil
    case FilterOp(in, _) => Seq(in)
    case ForeachOp(in, _) => Seq(in)
    case ForeachNestedOp(in, _, _) => Seq(in)
    case GroupOp(ins, _, _) => ins.map(_._1)
    case CubeOp(in, _) => Seq(in)
    case StreamOp(in, _, _, _, _) => Seq(in)
    case JoinOp(ins, _, _) => ins.map(_._1)
    case CrossOp(ins) => ins
    case OrderOp(in, _, _) => Seq(in)
    case RankOp(in, _, _) => Seq(in)
    case LimitOp(in, _) => Seq(in)
    case DistinctOp(in) => Seq(in)
    case UnionOp(ins, _) => ins
    case SampleOp(in, _) => Seq(in)
    case AliasRef(in) => Seq(in)
    case CacheOp(in) => Seq(in)
  }

  // ------------------------------------------- ILLUSTRATE synthesis

  /** pen's last resort (Olston & Das Sarma SIGMOD'09 §4.3): when
    * neither the LOAD sample nor real-row repair yields a witness,
    * FABRICATE a constrained tuple at the operator's immediate input.
    * Supported constraint subset: conjunctions of column-vs-literal
    * comparisons and IS [NOT] NULL for FILTER; all-FieldRef equi-keys
    * for JOIN and GROUP. Every synthesized row is re-verified against
    * the operator's own compiled predicate before it is admitted, so
    * imperfect solving can only fail closed (no witness) — never
    * admit a row that doesn't actually exercise the operator.
    */
  private def synthDefault(dt: DataType): Any = dt match {
    case StringType => "syn"
    case LongType => 1L
    case IntegerType => 1
    case ShortType => 1.toShort
    case DoubleType => 1.0
    case FloatType => 1.0f
    case BooleanType => true
    case _: DecimalType => new java.math.BigDecimal(1)
    case DateType => java.sql.Date.valueOf("2020-01-01")
    case TimestampType => java.sql.Timestamp.valueOf("2020-01-01 00:00:00")
    case _ => null
  }

  private def synthCoerce(v: Any, dt: DataType): Option[Any] = (v, dt) match {
    case (n: java.lang.Number, LongType) => Some(n.longValue)
    case (n: java.lang.Number, IntegerType) => Some(n.intValue)
    case (n: java.lang.Number, ShortType) => Some(n.shortValue)
    case (n: java.lang.Number, DoubleType) => Some(n.doubleValue)
    case (n: java.lang.Number, FloatType) => Some(n.floatValue)
    case (n: java.lang.Number, _: DecimalType) =>
      Some(new java.math.BigDecimal(n.toString))
    case (n: java.lang.Number, StringType) => Some(n.toString)
    case (s: String, StringType) => Some(s)
    case (b: java.lang.Boolean, BooleanType) => Some(b)
    case _ => None
  }

  /** One fabricated row of `schema`: pinned values where the constraint
    * solver assigned them (null allowed), type defaults elsewhere.
    * None if a pinned value can't be coerced to its column type. */
  private def synthRow(schema: StructType, vals: Map[String, Any]): Option[DataFrame] = {
    var ok = true
    val cells = schema.fields.map { f =>
      if (vals.contains(f.name)) vals(f.name) match {
        case null => null
        case v => synthCoerce(v, f.dataType) match {
          case Some(x) => x
          case None => ok = false; null
        }
      } else synthDefault(f.dataType)
    }
    if (!ok) None
    else Some(spark.createDataFrame(
      spark.sparkContext.parallelize(
        Seq(org.apache.spark.sql.Row.fromSeq(cells.toIndexedSeq)), 1), schema))
  }

  private def synthConjuncts(e: Expr): List[Expr] = e match {
    case And(l, r) => synthConjuncts(l) ++ synthConjuncts(r)
    case other => List(other)
  }

  /** [[resolveField]]'s name rule (exact, then `::`-suffix) as a plain
    * schema lookup — synthesis must FAIL CLOSED (Option) on a name the
    * schema can't resolve, where the Column form would throw out of
    * illustrate(). */
  private def synthResolveName(schema: StructType, n: String): Option[String] =
    if (schema.fieldNames.contains(n)) Some(n)
    else schema.fieldNames.find(_.endsWith(s"::$n"))

  /** A literal value satisfying `col OP lit` (lit's numeric domain;
    * coercion to the column type happens in [[synthRow]]). */
  private def synthCmpWitness(op: String, v: Any): Option[Any] = op match {
    case "==" | "<=" | ">=" => Some(v)
    case "<" => v match {
      case n: Long => Some(n - 1); case n: Int => Some(n - 1)
      case n: Double => Some(n - 1.0); case _ => None
    }
    case ">" => v match {
      case n: Long => Some(n + 1); case n: Int => Some(n + 1)
      case n: Double => Some(n + 1.0); case _ => None
    }
    case "!=" => v match {
      case n: Long => Some(n + 1); case n: Int => Some(n + 1)
      case n: Double => Some(n + 1.0); case s: String => Some(s + "_x")
      case b: Boolean => Some(!b); case _ => None
    }
    case _ => None // matches / IN etc. — unsupported, fail closed
  }

  private def synthFlip(op: String): String = op match {
    case "<" => ">"; case "<=" => ">="; case ">" => "<"; case ">=" => "<="
    case other => other
  }

  /** Fabricate-and-verify a FILTER witness for `cond` over `full`'s
    * schema. None when any conjunct is outside the solvable subset or
    * the verification filter rejects the fabricated row. */
  private def synthFilterWitness(full: DataFrame, cond: Expr): Option[DataFrame] = {
    // each conjunct → (resolved column, hard?, witness value): hard
    // pins (== / IS NULL) apply first and are never overwritten by
    // soft ones (< <= > >= != / IS NOT NULL), so `k == 5 AND k != 3`
    // solves to 5 instead of the != conjunct clobbering the equality
    val resolved = synthConjuncts(cond).foldLeft(
        Option(List.empty[(String, Boolean, Any)])) {
      case (None, _) => None
      case (Some(acc), c) =>
        def one(name: String, op: String, v: Any) =
          synthResolveName(full.schema, name).flatMap(rn =>
            synthCmpWitness(op, v).map(x => (rn, op == "==", x)))
        (c match {
          case Cmp(op, FieldRef(n), Lit(v)) => one(n, op, v)
          case Cmp(op, Lit(v), FieldRef(n)) => one(n, synthFlip(op), v)
          case IsNull(FieldRef(n), negated) =>
            synthResolveName(full.schema, n).map { rn =>
              if (negated) (rn, false, synthDefault(full.schema(rn).dataType))
              else (rn, true, null)
            }
          case _ => None
        }).map(acc :+ _)
    }
    val vals = resolved.map { cs =>
      val hard = cs.filter(_._2).foldLeft(Map.empty[String, Any]) {
        case (m, (n, _, v)) => if (m.contains(n)) m else m + (n -> v)
      }
      cs.filterNot(_._2).foldLeft(hard) {
        case (m, (n, _, v)) => if (m.contains(n)) m else m + (n -> v)
      }
    }
    vals.flatMap(synthRow(full.schema, _))
      .filter(d => !d.filter(compileExpr(d, cond)).isEmpty)
  }

  /** Fabricate matching JOIN witnesses: one row per side sharing key
    * values (copied from a real row of whichever side has one —
    * realism first — else type defaults). Keys must all be FieldRefs. */
  private def synthJoinWitness(lf: DataFrame, rf: DataFrame,
                               lk: List[Expr], rk: List[Expr]): Option[(DataFrame, DataFrame)] = {
    def refs(es: List[Expr], schema: StructType): Option[List[String]] = {
      // every key must be a FieldRef AND resolve in the schema (the
      // `::`-suffix rule) — anything else fails closed, where a raw
      // col(name) would throw an AnalysisException out of illustrate()
      val cs = es.flatMap {
        case FieldRef(c) => synthResolveName(schema, c)
        case _ => None
      }
      if (cs.length == es.length) Some(cs) else None
    }
    for {
      ln <- refs(lk, lf.schema)
      rn <- refs(rk, rf.schema)
      keyVals = {
        val fromL = lf.select(ln.map(col): _*).limit(1).collect().headOption
        val fromR = rf.select(rn.map(col): _*).limit(1).collect().headOption
        fromL.orElse(fromR) match {
          case Some(row) => row.toSeq
          case None => ln.map(c => synthDefault(lf.schema(c).dataType))
        }
      }
      if !keyVals.contains(null)
      l <- synthRow(lf.schema, ln.zip(keyVals).toMap)
      r <- synthRow(rf.schema, rn.zip(keyVals).toMap)
      cond = ln.map(l(_)).zip(rn.map(r(_))).map { case (x, y) => x === y }.reduce(_ && _)
      if !l.join(r, cond).isEmpty
    } yield (l, r)
  }

  /** Fabricate a second row for a GROUP key so the example has a
    * multi-row group: duplicate an example row (or fabricate a base
    * row when there is none) and mutate one non-key column. */
  private def synthGroupWitness(example: DataFrame, schema: StructType,
                                keyNames: Set[String]): Option[DataFrame] = {
    def mutate(v: Any, dt: DataType): Option[Any] = v match {
      case null => Option(synthDefault(dt))
      case n: Long => Some(n + 1)
      case n: Int => Some(n + 1)
      case n: Double => Some(n + 1.0)
      case s: String => Some(s + "_syn")
      case b: Boolean => Some(!b)
      case _ => None
    }
    val base = example.limit(1).collect().headOption.map(_.toSeq).getOrElse {
      schema.fields.map(f => synthDefault(f.dataType)).toSeq
    }
    val idx = schema.fields.indexWhere(f => !keyNames.contains(f.name))
    if (idx < 0) None // every column is a key — no non-key to vary
    else mutate(base(idx), schema.fields(idx).dataType).flatMap { m =>
      val rows = Seq(base, base.updated(idx, m))
        .map(org.apache.spark.sql.Row.fromSeq)
      // verify both rows round-trip through the schema (a mutated value
      // of an exotic type could violate it — fail closed)
      try {
        val d = spark.createDataFrame(
          spark.sparkContext.parallelize(rows, 1), schema)
        d.collect()
        Some(d)
      } catch { case scala.util.control.NonFatal(_) => None }
    }
  }

  /** ILLUSTRATE's lineage-aware example generator — a bounded
    * re-expression of the reference's `pen` example-data machinery
    * [R: src/org/apache/pig/pen/ExampleGenerator.java; Olston & Das
    * Sarma, "Generating Example Data for Dataflow Programs",
    * SIGMOD'09]: for the target alias and every relation in its
    * lineage, produce a SMALL example table such that each operator on
    * the path is exercised — a FILTER has passing rows, a JOIN has
    * matching rows, a GROUP has a multi-row group — by replaying the
    * compiled operators over LOAD samples and, where the samples miss
    * an operator's semantic path, REPAIRING with real rows pulled from
    * the full relation; when no real witness exists anywhere in the
    * data, the pen algorithm's last step SYNTHESIZES one (r15): a
    * fabricated constrained tuple at the operator's immediate input —
    * FILTER conjunctions of column-vs-literal comparisons /
    * IS [NOT] NULL solved directly, JOIN fabricates a matching pair
    * (key values copied from a real row when either side has one),
    * GROUP fabricates the second member of a group. Every synthesized
    * row is re-verified against the operator's own compiled predicate
    * before admission, so solving gaps fail closed (no witness — still
    * a diagnostic) rather than admitting a non-exercising row. Realism
    * stays first: synthesis runs only after real-row repair found
    * nothing.
    *
    * Documented simplifications vs the reference: repair rows are
    * appended at the operator's immediate input (not provenance-traced
    * back to the LOAD tables, except when the input IS a LOAD); n-way
    * (>2) joins and grouped inputs are replayed but not repaired;
    * aliases are assumed single-assignment. This is a driver-side
    * debugging verb over `limit`-bounded frames — never a production
    * path, so the handful of tiny repair jobs it runs is fine.
    *
    * @return (alias, example DataFrame) for the whole lineage in
    *         topological order; frames are detached local copies.
    */
  def illustrate(target: String, maxRows: Int = 4): Seq[(String, DataFrame)] = {
    require(env.contains(target), s"unknown alias $target")
    val lastOp = mutable.LinkedHashMap[String, RelOp]()
    history.foreach { case (a, op) => lastOp(a) = op }
    val lineage = mutable.LinkedHashSet[String]()
    val visiting = mutable.Set[String]()
    def visit(a: String): Unit = if (!lineage.contains(a))
      lastOp.get(a).foreach { op =>
        // a self-referential last assignment (A = FILTER A BY …) has no
        // single-assignment lineage — diagnose instead of recursing
        require(visiting.add(a),
          s"ILLUSTRATE: alias '$a' is reassigned in terms of itself — " +
            "lineage replay assumes single-assignment aliases")
        inputsOf(op).foreach(visit)
        visiting -= a
        lineage += a
      }
    visit(target)
    val order = lineage.toSeq // inputs-first by construction
    require(order.nonEmpty, s"no lineage recorded for $target")
    val saved = order.flatMap(a => env.get(a).map(a -> _)).toMap
    val fullDfs = order.map(a => a -> relation(a)).toMap // resolved BEFORE the swap
    val extra = mutable.Map[String, DataFrame]() // repair rows per alias
    def replay(): Unit = order.foreach { a =>
      val op = lastOp(a)
      val ri = op match {
        case _: Load =>
          val base = fullDfs(a).limit(maxRows)
          val ex = extra.get(a).map(e => base.unionByName(e).distinct()).getOrElse(base)
          RelInfo(() => ex)
        case _ =>
          val compiled = compileOp(a, op)
          extra.get(a) match {
            case Some(e) if compiled.grouped.isEmpty =>
              RelInfo(() => compiled.df().unionByName(e).distinct())
            case _ => compiled
          }
      }
      env(a) = ri
    }
    def repairable(a: String): Boolean = env.get(a).forall(_.grouped.isEmpty)
    def addExtra(a: String, rows: DataFrame): Boolean = {
      val r = rows.limit(2)
      if (!repairable(a) || r.isEmpty) false
      else { extra(a) = extra.get(a).map(_.unionByName(r)).getOrElse(r); true }
    }
    try {
      replay()
      var pass = 0
      var changed = true
      while (changed && pass < 3) {
        changed = false; pass += 1
        order.foreach { a =>
          lastOp(a) match {
            case FilterOp(in, cond) if env(a).df().isEmpty =>
              val fullIn = fullDfs(in)
              if (addExtra(in, fullIn.filter(compileExpr(fullIn, cond)))) {
                changed = true; replay()
              } else if (synthFilterWitness(fullIn, cond) // pen synthesis
                  .exists(addExtra(in, _))) {
                changed = true; replay()
              }
            case JoinOp(List((la, lk), (ra, rk)), _, _) if env(a).df().isEmpty =>
              val lf = fullDfs(la); val rf = fullDfs(ra)
              val cond = lk.map(e => compileExpr(lf, e))
                .zip(rk.map(e => compileExpr(rf, e)))
                .map { case (x, y) => x === y }.reduce(_ && _)
              val lrows = lf.join(rf, cond, "left_semi").limit(2)
              val rrows = rf.join(lrows, cond, "left_semi")
              var ch = addExtra(la, lrows)
              ch = addExtra(ra, rrows) || ch
              if (!ch && repairable(la) && repairable(ra))
                // no real matching pair anywhere — fabricate one, but
                // all-or-nothing: committing only one half would leave a
                // synthetic row that exercises nothing (the join stays
                // empty) while re-triggering synthesis every pass
                synthJoinWitness(lf, rf, lk, rk).foreach { case (l, r) =>
                  ch = addExtra(la, l) && addExtra(ra, r)
                }
              if (ch) { changed = true; replay() }
            case GroupOp(List((in, keys)), false, _) if keys.nonEmpty =>
              val exIn = env(in).df()
              val kex = keys.map(e => compileExpr(exIn, e))
              val maxSz =
                if (exIn.isEmpty) 0L
                else exIn.groupBy(kex: _*).count().agg(max("count")).head().getLong(0)
              if (maxSz < 2) {
                val fullIn = fullDfs(in)
                val keyed = fullIn.withColumn("_ill_k",
                  struct(keys.map(e => compileExpr(fullIn, e)): _*))
                val dupKey = keyed.groupBy(col("_ill_k")).count()
                  .filter(col("count") >= 2).limit(1).drop("count")
                val rows = keyed.join(dupKey, "_ill_k").drop("_ill_k")
                if (addExtra(in, rows)) { changed = true; replay() }
                else {
                  // no key repeats anywhere in the data — fabricate the
                  // second member of a group (pen synthesis); key names
                  // resolve through the `::`-suffix rule so a qualified
                  // key column is never mistaken for a mutable non-key
                  val keyNames = keys.collect { case FieldRef(c) => c }
                    .flatMap(synthResolveName(fullIn.schema, _))
                  if (keyNames.length == keys.length &&
                      synthGroupWitness(exIn, fullIn.schema, keyNames.toSet)
                        .exists(addExtra(in, _))) {
                    changed = true; replay()
                  }
                }
              }
            case _ => ()
          }
        }
      }
      // detach: materialize example rows locally BEFORE the env restore
      // (the replayed RelInfos read the example env lazily)
      order.map { a =>
        val ex = env(a).df().limit(math.max(maxRows * 2, 8))
        val local = spark.createDataFrame(
          spark.sparkContext.parallelize(ex.collect().toIndexedSeq, 1), ex.schema)
        a -> local
      }
    } finally saved.foreach { case (a, ri) => env(a) = ri }
  }

  // -------------------------------------------------------------- operators

  private def compileOp(alias: String, op: RelOp): RelInfo = op match {
    case Load(path, using, schema) =>
      // resolved once, at first use: every reader of the alias shares it
      lazy val d = load(path, using, schema); RelInfo(() => d)

    case FilterOp(in, cond) =>
      val d = relation(in); RelInfo(() => d.filter(compileExpr(d, cond)))

    case ForeachOp(in, gens) => compileForeach(in, gens)

    case op: ForeachNestedOp => compileForeachNested(op)

    case GroupOp(inputs, all, _) => compileGroup(inputs, all)

    case CubeOp(in, List((mode, dims))) =>
      // grouping-set keys stay top-level columns (Catalyst Expand needs
      // them individually nullable); `group.dim` derefs resolve by name
      val pre = relation(in)
      val keyCols =
        if (dims.size == 1) Seq((compileExpr(pre, dims.head), "group"))
        else dims.zipWithIndex.map { case (d, i) =>
          (compileExpr(pre, d), keyName(d, i)) }
      // Pig names the bag of a CUBE/ROLLUP relation 'cube' [R: LOCube.java]
      val ginfo = GroupInfo(pre, keyCols, Seq("cube"), mode)
      RelInfo(() => materializeBags(ginfo), Some(ginfo))

    case CubeOp(in, clauses) =>
      // mixed form `CUBE(a,b), ROLLUP(c)`: the grouping sets are the
      // cross product of each clause's family (cube → all subsets,
      // rollup → prefixes), fed to Dataset.groupingSets. Dims are
      // projected to named columns first so set refs are plain names.
      val pre0 = relation(in)
      val allDims = clauses.flatMap(_._2)
      val names = allDims.zipWithIndex.map { case (d, i) => keyName(d, i) }
      val pre = allDims.zip(names).foldLeft(pre0) { case (acc, (d, n)) =>
        acc.withColumn(n, compileExpr(acc, d)) }
      var idx = 0
      val families: List[List[List[String]]] = clauses.map { case (kind, dims) =>
        val ns = names.slice(idx, idx + dims.size).toList
        idx += dims.size
        kind match {
          case "cube" =>
            ns.indices.toSet.subsets().toList
              .map(s => ns.zipWithIndex.collect { case (n, i) if s(i) => n })
          case "rollup" => (ns.size to 0 by -1).toList.map(ns.take)
        }
      }
      val sets = families.reduce((a, b) => for (x <- a; y <- b) yield x ++ y)
      val ginfo = GroupInfo(pre, names.map(n => (col(n), n)), Seq("cube"),
        "sets", sets)
      RelInfo(() => materializeBags(ginfo), Some(ginfo))

    case StreamOp(in, cmd, schema, inDelim, outDelim) =>
      val d = relation(in)
      RelInfo(() => {
      val lines = graft.dsl.Rel(d).streamThrough(cmd, inDelim).df
      schema match {
        case None => lines
        case Some(fs) =>
          val parts = split(col("line"),
            java.util.regex.Pattern.quote(outDelim))
          lines.select(fs.zipWithIndex.map { case (f, i) =>
            parts.getItem(i).cast(f.typ.map(pigType).getOrElse(StringType))
              .as(f.name) }: _*)
      }
    })

    case JoinOp(inputs, outer, using) =>
      val joined = compileJoin(inputs, outer, using)
      RelInfo(() => joined)

    case CrossOp(ins) =>
      val ds = ins.map(relation)
      RelInfo(() => ds.reduce(_ crossJoin _))

    case OrderOp(in, keys, using) =>
      val d = relation(in)
      val keyFn: Column => Column = using match {
        case None => identity
        case Some(name) => comparators.getOrElse(name.toUpperCase,
          sys.error(s"unknown comparator $name — registerComparator first"))
      }
      RelInfo(() => d.orderBy(keys.map { case (e, asc) =>
        val c = keyFn(compileExpr(d, e)); if (asc) c.asc else c.desc
      }: _*))

    // NOTE on binding time (r15 review): every operator resolves its
    // input aliases EAGERLY at definition, like Pig's logical plan — a
    // later reassignment of an input alias must not retroactively
    // change an already-defined relation.
    case RankOp(in, Nil, _) =>
      // bare RANK: 1-based row number in the relation's current order
      val d = relation(in)
      RelInfo(() => Rank.rowNumber(d, Nil, s"rank_$in"))

    case RankOp(in, keys, dense) =>
      val d = relation(in)
      RelInfo(() => {
      val tmp = keys.zipWithIndex.map { case ((e, _), i) => (s"_rk$i", compileExpr(d, e)) }
      val withKeys = tmp.foldLeft(d) { case (acc, (n, c)) => acc.withColumn(n, c) }
      val sortCols = tmp.zip(keys).map { case ((n, _), (_, asc)) =>
        if (asc) col(n).asc else col(n).desc }
      Rank.rankBy(withKeys, sortCols, tmp.map(_._1), dense, s"rank_$in")
        .drop(tmp.map(_._1): _*)
    })

    case LimitOp(in, n) =>
      val d = relation(in)
      val lim = n match {
        case Lit(i: Int) => i
        // clamp, don't truncate: LIMIT 5000000000 silently became a
        // wrapped Int before (r15 review)
        case Lit(l: Long) => math.min(l, Int.MaxValue.toLong).toInt
        case other => sys.error(s"LIMIT expects an integer literal, got $other")
      }
      RelInfo(() => d.limit(lim))

    case DistinctOp(in) =>
      val d = relation(in)
      RelInfo(() => d.distinct())

    case UnionOp(ins, onSchema) =>
      val ds = ins.map(relation)
      RelInfo(() => ds.reduce((a, b) =>
        if (onSchema) a.unionByName(b, allowMissingColumns = true) else a.union(b)))

    case SampleOp(in, p) =>
      val d = relation(in)
      RelInfo(() => d.sample(p, 42L))

    case AliasRef(in) => env.getOrElse(in, sys.error(s"unknown alias $in"))

    // b = CACHE a; — the relational form of spork's cache hint
    case CacheOp(in) =>
      val df = relation(in)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      RelInfo(() => df)
  }

  // ------------------------------------------------------------------- load

  private def resolvePath(p: String): String = {
    // an empty path would resolve to the base DIRECTORY and silently
    // scan whatever parquet happens to live there (PigFuzzSpec find)
    require(p.trim.nonEmpty, "LOAD/STORE path must be non-empty")
    // scheme-qualified URIs (hdfs://, s3a://, file:) pass through —
    // prefixing them with baseDir produced /base/hdfs://… (r17 review)
    val hasScheme = p.matches("^[A-Za-z][A-Za-z0-9+.\\-]*:.*")
    if (p.startsWith("/") || hasScheme || baseDir.isEmpty) p
    else s"${baseDir.get}/$p"
  }

  private def pigType(t: String): DataType = t match {
    case "int" => IntegerType; case "long" => LongType
    case "float" => FloatType; case "double" => DoubleType
    case "chararray" => StringType; case "bytearray" => BinaryType
    case "boolean" => BooleanType; case "datetime" => TimestampType
    case "biginteger" => DecimalType(38, 0); case "bigdecimal" => DecimalType(38, 18)
    case other => sys.error(s"unsupported type $other")
  }

  private def load(path: String, using: Option[FuncCall],
                   schema: Option[List[FieldDef]]): DataFrame = {
    val target = resolvePath(path)
    val st = schema.map(fs => StructType(fs.map(f =>
      StructField(f.name, f.typ.map(pigType).getOrElse(StringType)))))
    using.map(_.name.toLowerCase) match {
      case Some("pigstorage") =>
        val sep = using.get.args.headOption.collect { case Lit(s: String) => s }.getOrElse("\t")
        graft.sources.Loaders.pigStorage(spark, target, sep, st)
      case Some("textloader") =>
        graft.sources.Loaders.textLoader(spark, target,
          schema.flatMap(_.headOption).map(_.name).getOrElse("line"))
      case Some("jsonloader") =>
        graft.sources.Loaders.jsonLoader(spark, target, st)
      case Some("orcstorage") =>
        val d = graft.sources.Loaders.orcLoader(spark, target)
        schema.map(fs => d.toDF(fs.map(_.name): _*)).getOrElse(d)
      case Some("avrostorage") =>
        val d = graft.sources.Loaders.avroLoader(spark, target)
        schema.map(fs => d.toDF(fs.map(_.name): _*)).getOrElse(d)
      case _ => // parquet is this engine's native format (BinStorage analog)
        val d = graft.sources.Loaders.parquet(spark, target)
        schema.map(fs => d.toDF(fs.map(_.name): _*)).getOrElse(d)
    }
  }

  // ------------------------------------------------------------------ group

  private def compileGroup(inputs: List[(String, List[Expr])], all: Boolean): RelInfo = {
    val bagAliases = inputs.map(_._1)
    if (inputs.size == 1) {
      val (in, keys) = inputs.head
      val pre = relation(in)
      val keyCols: Seq[(Column, String)] =
        if (all) Seq((lit("all"), "group"))
        else if (keys.size == 1) Seq((compileExpr(pre, keys.head), "group"))
        else Seq((struct(keys.zipWithIndex.map { case (k, i) =>
          compileExpr(pre, k).as(keyName(k, i)) }: _*), "group"))
      val ginfo = GroupInfo(pre, keyCols, bagAliases)
      RelInfo(() => materializeBags(ginfo), Some(ginfo))
    } else {
      // COGROUP: per-input bag aggregation, chained full-outer join on key
      val perInput = inputs.map { case (in, keys) =>
        val d = relation(in)
        val k = if (keys.size == 1) compileExpr(d, keys.head)
                else struct(keys.zipWithIndex.map { case (e, i) =>
                  compileExpr(d, e).as(keyName(e, i)) }: _*)
        d.groupBy(k.as("group"))
          .agg(collect_list(struct(d.columns.map(col).toIndexedSeq: _*)).as(in))
      }
      val joined = perInput.reduce((a, b) => a.join(b, Seq("group"), "full_outer"))
      val withBags = joined.select(col("group") +: bagAliases.map(a =>
        coalesce(col(a), array()).as(a)): _*)
      RelInfo(() => withBags)
    }
  }

  private def keyName(e: Expr, i: Int): String = e match {
    case FieldRef(n) => n.split("::").last
    case _ => s"k$i"
  }

  /** groupBy / cube / rollup over the same named keys. */
  private def keyedGroup(g: GroupInfo): org.apache.spark.sql.RelationalGroupedDataset = {
    val ks = g.keyCols.map { case (c, n) => c.as(n) }
    g.mode match {
      case "cube" => g.pre.cube(ks: _*)
      case "rollup" => g.pre.rollup(ks: _*)
      case "sets" =>
        // grouping columns must be the bare named columns (the mixed
        // path projects dims to names first): aliased Columns fail to
        // match the set refs inside Dataset.groupingSets, nulling keys.
        // Enforce the producer invariant so a future mode-"sets" caller
        // with unprojected key expressions fails loudly (ADVICE r6).
        g.keyCols.foreach { case (c, n) =>
          require(c == col(n),
            s"mode 'sets' requires pre-projected bare key columns; got $c for $n") }
        g.pre.groupingSets(g.sets.map(_.map(col)),
          g.keyCols.map { case (_, n) => col(n) }: _*)
      case _ => g.pre.groupBy(ks: _*)
    }
  }

  private def materializeBags(g: GroupInfo): DataFrame = {
    val in = g.bagAliases.head
    val d = g.pre
    keyedGroup(g)
      .agg(collect_list(struct(d.columns.map(col).toIndexedSeq: _*)).as(in))
  }

  // ------------------------------------------------------------------- join

  private def compileJoin(inputs: List[(String, List[Expr])],
                          outer: Option[String], using: Option[String]): DataFrame = {
    require(inputs.size >= 2, "JOIN needs at least two inputs")
    val joinType = outer match {
      case Some("left") => "left_outer"; case Some("right") => "right_outer"
      case Some("full") => "full_outer"; case None => "inner"
      case Some(o) => sys.error(s"unknown outer type $o")
    }
    val rels = inputs.map { case (alias, keys) => (alias, relation(alias), keys) }
    // per-column origin aliases, tracked through the fold: in a 3+-way
    // join a collision between the 2nd and 3rd relations must rename
    // to the column's TRUE source alias (b::col), not the first
    // relation's (ADVICE r15) — Pig qualifies by owning alias
    var owners: Map[String, String] =
      rels.head._2.columns.map(_ -> rels.head._1).toMap
    var accDf = rels.head._2
    var accKeys = rels.head._3
    for ((ra, rd0, rk) <- rels.tail) {
      // disambiguate colliding column names with the Pig alias::
      // prefix on BOTH sides, like Pig (a right-only rename left
      // `a::col` unresolvable after the join — r15 review)
      val collisions = accDf.columns.toSet.intersect(rd0.columns.toSet)
      val ld = collisions.foldLeft(accDf)((d, c) =>
        d.withColumnRenamed(c, s"${owners(c)}::$c"))
      val rd = collisions.foldLeft(rd0)((d, c) => d.withColumnRenamed(c, s"$ra::$c"))
      val lkResolved = accKeys.map {
        case FieldRef(n) if collisions.contains(n) => FieldRef(s"${owners(n)}::$n")
        case e => e
      }
      val rkResolved = rk.map {
        case FieldRef(n) if collisions.contains(n) => FieldRef(s"$ra::$n")
        case e => e
      }
      val cond = lkResolved.zip(rkResolved).map { case (l, r) =>
        compileExpr(ld, l) === compileExpr(rd, r) }.reduce(_ && _)
      val right = using match {
        case Some("replicated") => broadcast(rd)
        // merge-sparse (indexed right side in the reference,
        // [R: …/relationalOperators/POMergeCogroup.java]) has no
        // Spark analog — accepted and compiled as sort-merge, the
        // closest strategy (documented, SURVEY.md §2.1 #13)
        case Some("merge") | Some("merge-sparse") => rd.hint("merge")
        case Some("skewed") => rd.hint("shuffle_merge")
        case Some(other) => sys.error(s"unknown join strategy '$other'")
        case None => rd
      }
      owners = (owners -- collisions) ++
        collisions.iterator.map(c => s"${owners(c)}::$c" -> owners(c)) ++
        rd0.columns.iterator.filterNot(collisions).map(_ -> ra) ++
        collisions.iterator.map(c => s"$ra::$c" -> ra)
      accDf = ld.join(right, cond, joinType)
      accKeys = lkResolved
    }
    accDf
  }

  // ---------------------------------------------------------------- foreach

  private val aggNames = Set("count", "count_star", "sum", "avg", "min", "max", "var", "stddev")

  private def compileForeach(in: String, gens: List[GenItem]): RelInfo = {
    val info = env.getOrElse(in, sys.error(s"unknown alias $in"))
    info.grouped match {
      case Some(g) if gens.forall(gi => isFusable(gi.expr, g)) =>
        RelInfo(() => fusedAgg(g, gens))
      case _ =>
        RelInfo(() => plainForeach(info.df(), gens))
    }
  }

  /** FOREACH rel { nested ops; GENERATE } — per-group bag processing
    * (SURVEY.md §2.1 #5). Each nested alias is a bag-valued Column
    * derived by array ops (filter / array_sort / slice / array_distinct
    * / transform): the per-group work happens inside the row, no second
    * shuffle and no flatMapGroups. The GENERATE clause then reuses the
    * flat-FOREACH pipeline with the nested aliases in scope.
    */
  private def compileForeachNested(op: ForeachNestedOp): RelInfo = {
    val info = env.getOrElse(op.input, sys.error(s"unknown alias ${op.input}"))
    RelInfo(() => {
      val df0 = info.df()
      var df = df0
      val bagCols = mutable.LinkedHashSet[String]()
      df0.schema.fields.foreach { f =>
        if (f.dataType.isInstanceOf[ArrayType]) bagCols += f.name
      }
      def elemType(name: String): DataType =
        df.select(col(name)).schema.head.dataType match {
          case ArrayType(et, _) => et
          case other => other
        }
      op.inner.foreach { case (alias, nop) =>
        val c: Column = nop match {
          case NFilter(in, cond) =>
            val struct = elemType(in).isInstanceOf[StructType]
            filter(col(in), x => elemCond(df, x, struct, cond))
          case NOrder(in, keys) =>
            val struct = elemType(in).isInstanceOf[StructType]
            array_sort(col(in), (l, r) => {
              def field(e: Column, f: String) = if (struct) e.getField(f) else e
              keys.foldRight(lit(0): Column) { case ((f, asc), next) =>
                val (lf, rf) = (field(l, f), field(r, f))
                val (lo, hi) = if (asc) (lit(-1), lit(1)) else (lit(1), lit(-1))
                when(lf < rf, lo).when(lf > rf, hi).otherwise(next)
              }
            })
          case NLimit(in, n) => slice(col(in), 1, n)
          case NDistinct(in) => array_distinct(col(in))
          case NProj(in, f) => transform(col(in), x => x.getField(f))
        }
        df = df.withColumn(alias, c)
        bagCols += alias
      }
      plainForeach(df, op.gens)
    })
  }

  /** Expression over a bag element (lambda variable) for nested FILTER. */
  private def elemCond(df: DataFrame, elem: Column, struct: Boolean, e: Expr): Column = e match {
    case FieldRef(n) => if (struct) elem.getField(n) else elem
    case Lit(v) => lit(v)
    case NullLit => lit(null)
    case Neg(x) => negate(elemCond(df, elem, struct, x))
    case Arith(o, l, r) =>
      val (lc, rc) = (elemCond(df, elem, struct, l), elemCond(df, elem, struct, r))
      o match { case "+" => lc + rc; case "-" => lc - rc; case "*" => lc * rc
        case "/" => PF.divide(lc, rc); case "%" => PF.mod(lc, rc) }
    case Cmp("matches", l, Lit(p: String)) => PF.matches(elemCond(df, elem, struct, l), p)
    case Cmp(o, l, r) =>
      val (lc, rc) = (elemCond(df, elem, struct, l), elemCond(df, elem, struct, r))
      o match { case "==" => lc === rc; case "!=" => lc =!= rc
        case "<" => lc < rc; case "<=" => lc <= rc; case ">" => lc > rc; case ">=" => lc >= rc }
    case And(l, r) => elemCond(df, elem, struct, l) && elemCond(df, elem, struct, r)
    case Or(l, r) => elemCond(df, elem, struct, l) || elemCond(df, elem, struct, r)
    case Not(x) => !elemCond(df, elem, struct, x)
    case IsNull(x, neg) =>
      val c = elemCond(df, elem, struct, x); if (neg) c.isNotNull else c.isNull
    case CastE(t, x) => elemCond(df, elem, struct, x).cast(pigType(t))
    case other => sys.error(s"unsupported nested-filter expression: $other")
  }

  /** A generator fuses when it only touches group keys and algebraic
    * aggregates over the bag — Pig's combiner eligibility check. */
  private def isFusable(e: Expr, g: GroupInfo): Boolean = e match {
    case FieldRef("group") => true
    case Deref(FieldRef("group"), _) => true
    case FuncCall(f, args)
      if aggNames.contains(f.toLowerCase) || userAggs.contains(f.toUpperCase) =>
      args.forall(a => refsOnlyBag(a, g))
    // a group ref NESTED in arithmetic/cast is not fusable: fusedAgg's
    // key/agg partition only recognizes top-level group refs, and
    // compileAgg would sys.error on the nested one — the bag path
    // computes `group + 1, COUNT(A)` correctly instead (r15 review)
    case Arith(_, l, r) =>
      !refsGroup(e) && isFusable(l, g) && isFusable(r, g)
    case CastE(_, x) => !refsGroup(e) && isFusable(x, g)
    case Lit(_) | NullLit => true
    case _ => false
  }

  private def refsGroup(e: Expr): Boolean = e match {
    case FieldRef("group") => true
    case Deref(b, _) => refsGroup(b)
    case Arith(_, l, r) => refsGroup(l) || refsGroup(r)
    case CastE(_, x) => refsGroup(x)
    case FuncCall(_, args) => args.exists(refsGroup)
    case Neg(x) => refsGroup(x)
    case _ => false
  }

  private def refsOnlyBag(e: Expr, g: GroupInfo): Boolean = e match {
    case FieldRef(n) => g.bagAliases.contains(n)
    case CastE(_, x) => refsOnlyBag(x, g)
    case Deref(base, _) => refsOnlyBag(base, g)
    case Arith(_, l, r) => refsOnlyBag(l, g) && refsOnlyBag(r, g)
    case FuncCall(_, args) => args.forall(refsOnlyBag(_, g))
    case Lit(_) | NullLit => true
    case _ => false
  }

  /** Rewrite bag-relative refs (A.f / A) to pre-group columns. */
  private def stripBag(e: Expr, g: GroupInfo): Expr = e match {
    case Deref(FieldRef(n), f) if g.bagAliases.contains(n) => FieldRef(f)
    case FieldRef(n) if g.bagAliases.contains(n) => Star
    case Deref(b, f) => Deref(stripBag(b, g), f)
    case CastE(t, x) => CastE(t, stripBag(x, g))
    case Arith(op, l, r) => Arith(op, stripBag(l, g), stripBag(r, g))
    case FuncCall(f, args) => FuncCall(f, args.map(stripBag(_, g)))
    case other => other
  }

  private def fusedAgg(g: GroupInfo, gens: List[GenItem]): DataFrame = {
    val pre = g.pre
    val keyed = keyedGroup(g)
    val aggGens = gens.filterNot(gi => gi.expr match {
      case FieldRef("group") | Deref(FieldRef("group"), _) => true
      case _ => false
    })
    val aggCols = aggGens.zipWithIndex.map { case (gi, i) =>
      compileAgg(pre, stripBag(gi.expr, g)).as(gi.alias.getOrElse(defaultName(gi.expr, i)))
    }
    // GENERATE with only group keys (no aggregates) is valid Pig —
    // the distinct key set; groupBy().agg() needs ≥1 aggregate, so
    // carry a throwaway count and let the projection below drop it
    val agged =
      if (aggCols.nonEmpty) keyed.agg(aggCols.head, aggCols.tail: _*)
      else keyed.agg(count(lit(1)).as("graft_fused_n"))
    // now project in the requested order, resolving group refs. With
    // cube/rollup (or a multi-key grouping) the keys live as separate
    // top-level columns named after the dims, not inside a `group` struct.
    val flatKeys = g.mode != "group" && g.keyCols.size > 1
    val keyNames = g.keyCols.map(_._2)
    val outCols = gens.zipWithIndex.flatMap { case (gi, i) =>
      gi.expr match {
        // FLATTEN(group): splat the key dims into columns — for
        // cube/rollup they already live as top-level dim columns; for
        // a plain multi-key GROUP they live inside the `group` struct
        // (pre-r17 the plain-GROUP case fell through un-splatted,
        // emitting one struct column where Pig emits a, b — review)
        case FieldRef("group") if gi.flatten && flatKeys =>
          val ns = if (gi.aliases.nonEmpty) gi.aliases else keyNames
          require(ns.length == keyNames.length,
            s"FLATTEN(group) AS: ${ns.length} name(s) for ${keyNames.length} key(s)")
          keyNames.zip(ns).map { case (kn, n) => col(kn).as(n) }
        case FieldRef("group") if gi.flatten =>
          // plain GROUP: a multi-key group is ONE struct column named
          // `group` — splat its fields (renamed by AS (…) if given);
          // a scalar key flattens to itself
          agged.schema("group").dataType match {
            case s: StructType =>
              val ns = if (gi.aliases.nonEmpty) gi.aliases
                else s.fields.map(_.name).toList
              require(ns.length == s.fields.length,
                s"FLATTEN(group) AS: ${ns.length} name(s) for ${s.fields.length} key field(s)")
              s.fields.zip(ns).map { case (f, n) => col(s"group.`${f.name}`").as(n) }
            case _ => Seq(col("group").as(gi.alias.getOrElse("group")))
          }
        case FieldRef("group") if flatKeys =>
          Seq(struct(keyNames.map(col): _*).as(gi.alias.getOrElse("group")))
        case FieldRef("group") =>
          Seq(col("group").as(gi.alias.getOrElse("group")))
        case Deref(FieldRef("group"), f) if flatKeys =>
          Seq(col(f).as(gi.alias.getOrElse(f)))
        case Deref(FieldRef("group"), f) =>
          Seq(col(s"group.$f").as(gi.alias.getOrElse(f)))
        case e => Seq(col(aggGens.indexWhere(_ eq gi) match {
          case idx => aggGens(idx).alias.getOrElse(defaultName(e, idx))
        }))
      }
    }
    agged.select(outCols: _*)
  }

  private def compileAgg(pre: DataFrame, e: Expr): Column = e match {
    case FuncCall(f, args) if userAggs.contains(f.toUpperCase) &&
        !aggNames.contains(f.toLowerCase) => // builtins keep priority
      userAggs(f.toUpperCase)(args.map {
        case Star => col(pre.columns.head)
        case a => compileExpr(pre, a)
      })
    case FuncCall(f, args) if aggNames.contains(f.toLowerCase) =>
      val inner = args.headOption.map {
        case Star => col(pre.columns.head) // COUNT(A): non-null first field
        case a => compileExpr(pre, a)
      }
      f.toLowerCase match {
        case "count" => count(inner.getOrElse(lit(1)))
        case "count_star" => count(lit(1))
        case "sum" => sum(inner.get)
        case "avg" => avg(inner.get)
        case "min" => min(inner.get)
        case "max" => max(inner.get)
        case "var" => var_samp(inner.get)
        case "stddev" => stddev(inner.get)
      }
    case Arith(op, l, r) =>
      val lc = compileAgg(pre, l); val rc = compileAgg(pre, r)
      op match {
        case "+" => lc + rc; case "-" => lc - rc; case "*" => lc * rc
        case "/" => PF.divide(lc, rc); case "%" => PF.mod(lc, rc)
      }
    case CastE(t, x) => compileAgg(pre, x).cast(pigType(t))
    case Lit(v) => lit(v)
    case other => sys.error(s"not an aggregate expression: $other")
  }

  private def plainForeach(df: DataFrame, gens: List[GenItem]): DataFrame = {
    // 1) compute all items as columns (Star expands in place)
    val cols = gens.zipWithIndex.flatMap { case (gi, i) =>
      gi.expr match {
        case Star if !gi.flatten => df.columns.map(col).toSeq
        case RangeProj(f, t) =>
          // `a..b` expands positionally against the input schema
          // [R: src/org/apache/pig/parser/QueryParser.g col_range]
          val cs = df.columns
          def idx(eo: Option[Expr], dflt: Int): Int = eo match {
            case None => dflt
            case Some(PosRef(j)) =>
              require(j >= 0 && j < cs.length,
                s"range projection: $$$j out of range for ${cs.length} columns")
              j
            case Some(FieldRef(n)) =>
              val j = cs.indexWhere(_.equalsIgnoreCase(n.split("::").last))
              require(j >= 0, s"range projection: unknown column '$n'")
              j
            case Some(other) =>
              throw new IllegalArgumentException(
                s"range projection endpoints must be columns or $$n, got $other")
          }
          val lo = idx(f, 0); val hi = idx(t, cs.length - 1)
          require(lo <= hi, s"range projection '$lo..$hi' selects nothing")
          cs.slice(lo, hi + 1).map(col).toSeq
        case e =>
          val name = gi.alias.getOrElse(defaultName(e, i))
          Seq(compileExpr(df, e).as(name))
      }
    }
    var out = df.select(cols: _*)
    // 2) explode flattened items (bag → rows; struct → splat), in order —
    //    multiple FLATTENs multiply out (Pig cross-product semantics)
    gens.zipWithIndex.foreach { case (gi, i) =>
      if (gi.flatten) {
        val name = gi.alias.getOrElse(defaultName(gi.expr, i))
        def doSplat(s: StructType): Unit =
          out =
            if (gi.aliases.nonEmpty) splat(out, name, s, gi.aliases)
            else splat(out, name, s, s.fields.map(_.name).toList)
        out.schema(name).dataType match {
          case ArrayType(_, _) =>
            out = out.withColumn(name, explode(col(name)))
            out.schema(name).dataType match {
              case s: StructType if gi.alias.isEmpty => doSplat(s)
              case _ =>
            }
          case s: StructType => doSplat(s)
          case _ =>
            // flatten of a scalar is a no-op; AS (a, b, …) on one
            // would silently drop names — refuse
            require(gi.aliases.isEmpty,
              s"FLATTEN AS (${gi.aliases.mkString(", ")}): '$name' is not a tuple/bag")
        }
      }
    }
    out
  }

  private def splat(df: DataFrame, name: String, s: StructType,
                    as: List[String]): DataFrame = {
    require(as.length == s.fields.length,
      s"FLATTEN AS: ${as.length} name(s) for ${s.fields.length} field(s) of '$name'")
    val others = df.columns.filterNot(_ == name).map(col)
    val fields = s.fields.zip(as).map { case (f, n) =>
      col(s"`$name`.`${f.name}`").as(n)
    }
    df.select(others ++ fields: _*)
  }

  private def defaultName(e: Expr, i: Int): String = e match {
    case FieldRef(n) => n.split("::").last
    case Deref(_, f) => f
    case PosRef(_) => s"val_$i"
    case FuncCall(n, _) => s"${n.toLowerCase}_$i"
    case _ => s"val_$i"
  }

  // ------------------------------------------------------------ expressions

  private def compileExpr(df: DataFrame, e: Expr): Column = e match {
    case RangeProj(_, _) =>
      throw new IllegalArgumentException(
        "a..b project-range is only supported as a top-level GENERATE item")
    case Lit(v) => lit(v)
    case NullLit => lit(null)
    case Star => struct(df.columns.map(col).toIndexedSeq: _*)
    case PosRef(i) => col(df.columns(i))
    case FieldRef(n) => resolveField(df, n)
    case Deref(base, f) =>
      val b = compileExpr(df, base)
      typeOf(df, b) match {
        case ArrayType(_: StructType, _) => transform(b, x => x.getField(f))
        case _ => b.getField(f)
      }
    case MapLookup(base, k) => element_at(compileExpr(df, base), k)
    case Neg(x) => negate(compileExpr(df, x))
    case Arith(op, l, r) =>
      val (lc, rc) = (compileExpr(df, l), compileExpr(df, r))
      op match {
        case "+" => lc + rc; case "-" => lc - rc; case "*" => lc * rc
        case "/" => PF.divide(lc, rc); case "%" => PF.mod(lc, rc)
      }
    case Cmp("matches", l, Lit(p: String)) => PF.matches(compileExpr(df, l), p)
    case Cmp(op, l, r) =>
      val (lc, rc) = (compileExpr(df, l), compileExpr(df, r))
      op match {
        case "==" => lc === rc; case "!=" => lc =!= rc
        case "<" => lc < rc; case "<=" => lc <= rc
        case ">" => lc > rc; case ">=" => lc >= rc
      }
    case And(l, r) => compileExpr(df, l) && compileExpr(df, r)
    case Or(l, r) => compileExpr(df, l) || compileExpr(df, r)
    case Not(x) => !compileExpr(df, x)
    case IsNull(x, neg) =>
      val c = compileExpr(df, x); if (neg) c.isNotNull else c.isNull
    case BinCond(c, t, f) =>
      // Pig's POBinCond returns NULL for a null condition — otherwise()
      // would return the false branch (r15 review). Two when()s with no
      // otherwise leave the null case null.
      val cc = compileExpr(df, c)
      when(cc, compileExpr(df, t)).when(!cc, compileExpr(df, f))
    case CaseWhen(branches, other) =>
      val w = branches.tail.foldLeft(
        when(compileExpr(df, branches.head._1), compileExpr(df, branches.head._2))) {
        case (acc, (c, v)) => acc.when(compileExpr(df, c), compileExpr(df, v))
      }
      other.map(o => w.otherwise(compileExpr(df, o))).getOrElse(w)
    case CastE(t, x) => compileExpr(df, x).cast(pigType(t))
    case FuncCall(name, args) => builtin(df, name, args.map(compileExpr(df, _)), args)
    case other => sys.error(s"cannot compile expression $other")
  }

  private def resolveField(df: DataFrame, n: String): Column =
    if (df.columns.contains(n)) col(s"`$n`")
    else df.columns.find(_.endsWith(s"::$n")) match {
      case Some(q) => col(s"`$q`")
      case None => col(n) // let Spark resolve nested paths / fail with its error
    }

  private def typeOf(df: DataFrame, c: Column): DataType =
    df.select(c).schema.head.dataType

  /** Builtin scalar function registry (SURVEY.md §2.4 surface). */
  private def builtin(df: DataFrame, name: String, cs: List[Column],
                      raw: List[Expr]): Column = name.toUpperCase match {
    case "CONCAT" => concat(cs: _*)
    case "UPPER" => upper(cs.head)
    case "LOWER" => lower(cs.head)
    case "TRIM" => trim(cs.head)
    case "LTRIM" => ltrim(cs.head)
    case "RTRIM" => rtrim(cs.head)
    case "SUBSTRING" => PF.substringPig(cs.head, cs(1), cs(2))
    case "INDEXOF" =>
      // 3-arg form searches from a 0-based start index (java
      // String.indexOf(sub, from)); it was silently dropped pre-r17
      if (cs.length >= 3) PF.indexOf(cs.head, cs(1), cs(2))
      else PF.indexOf(cs.head, cs(1))
    case "LAST_INDEX_OF" =>
      raw(1) match { case Lit(s: String) => PF.lastIndexOf(cs.head, s)
        case _ => sys.error("LAST_INDEX_OF needs a literal needle") }
    case "REPLACE" => raw match {
      case List(_, Lit(p: String), Lit(r: String)) => regexp_replace(cs.head, p, r)
      case _ => sys.error("REPLACE needs literal pattern/replacement")
    }
    case "REGEX_EXTRACT" => raw match {
      case List(_, Lit(p: String), Lit(i: Int)) => PF.regexExtract(cs.head, p, i)
      case _ => sys.error("REGEX_EXTRACT needs literal pattern/index")
    }
    case "REGEX_EXTRACT_ALL" => raw match {
      case List(_, Lit(p: String)) => PF.regexExtractAll(cs.head, p)
      case _ => sys.error("REGEX_EXTRACT_ALL needs a literal pattern")
    }
    // java String.split semantics: trailing empty strings are DROPPED,
    // matching Pig's STRSPLIT (Spark's split keeps them — r17 review:
    // STRSPLIT('a,b,,', ',') must be ("a","b"))
    case "STRSPLIT" => raw match {
      case List(_, Lit(p: String)) => PF.strSplit(cs.head, p)
      case _ => sys.error("STRSPLIT needs a literal pattern")
    }
    case "STRSPLITTOBAG" => raw match {
      case List(_, Lit(p: String)) => PF.strSplitToBag(cs.head, p)
      case _ => sys.error("STRSPLITTOBAG needs a literal pattern")
    }
    case "TOKENIZE" => raw match {
      case List(_) => PF.tokenize(cs.head)
      // 2-arg form: every character of the literal is a delimiter
      // (StringTokenizer semantics); it was silently ignored pre-r17
      case List(_, Lit(d: String)) => PF.tokenizeChars(cs.head, d)
      case _ => sys.error("TOKENIZE takes (expr[, literal delimiter chars])")
    }
    case "SPRINTF" => raw.head match {
      case Lit(f: String) => format_string(f, cs.tail: _*)
      case _ => sys.error("SPRINTF needs a literal format")
    }
    case "STARTSWITH" => cs.head.startsWith(cs(1))
    case "ENDSWITH" => cs.head.endsWith(cs(1))
    case "EQUALSIGNORECASE" => PF.equalsIgnoreCase(cs.head, cs(1))
    case "UCFIRST" => PF.ucfirst(cs.head)
    case "LCFIRST" => PF.lcfirst(cs.head)
    // SIZE(null) is NULL in Pig for EVERY input type (r18 piglatin
    // review): the bare size() reads -1 under this session's ANSI-off
    // legacy sizeOfNull, and the static-arity/scalar-1 branches ignored
    // nullness entirely — all three need the explicit guard
    case "SIZE" => typeOf(df, cs.head) match {
      case StringType => PF.sizeOfString(cs.head)
      case _: ArrayType | _: MapType =>
        when(cs.head.isNull, lit(null).cast(LongType))
          .otherwise(size(cs.head).cast(LongType))
      case s: StructType => // tuple arity (static schema)
        when(cs.head.isNull, lit(null).cast(LongType))
          .otherwise(lit(s.fields.length.toLong))
      case _ =>
        when(cs.head.isNull, lit(null).cast(LongType)).otherwise(lit(1L))
    }
    case "ISEMPTY" => PF.isEmpty(cs.head)
    case "BAGTOSTRING" => raw(1) match {
      case Lit(d: String) => PF.bagToString(cs.head, d)
      case _ => sys.error("BagToString needs a literal delimiter")
    }
    case "DIFF" => PF.diff(cs.head, cs(1))
    // bag1 minus bag2 members; membership test only — bag1's duplicate
    // tuples survive (array_except would dedup bag1, diverging from Pig).
    // Membership is the null-safe <=> (Pig's HashSet contains): a null
    // element is kept unless bag2 holds a null — array_contains would
    // return NULL for it and the !NULL filter silently dropped it
    case "SUBTRACT" => filter(cs.head, x => !exists(cs(1), y => x <=> y))
    case "TOP" => raw match {
      case List(Lit(n: Int), Lit(f: String), _) => PF.topN(cs(2), n, f)
      case _ => sys.error("TOP(n, 'field', bag) needs literal n and field")
    }
    case "TOTUPLE" => struct(cs: _*)
    case "TOBAG" => array(cs: _*)
    case "TOMAP" => map(cs: _*)
    case "ABS" => abs(cs.head)
    case "CEIL" => ceil(cs.head).cast(DoubleType)   // Pig CEIL returns double
    case "FLOOR" => floor(cs.head).cast(DoubleType)
    case "ROUND" => PF.roundPig(cs.head)
    case "ROUND_TO" => raw(1) match {
      case Lit(d: Int) => PF.roundTo(cs.head, d)
      case _ => sys.error("ROUND_TO needs a literal digit count")
    }
    case "SQRT" => sqrt(cs.head)
    case "CBRT" => cbrt(cs.head)
    case "EXP" => exp(cs.head)
    case "LOG" => log(cs.head)
    case "LOG10" => log10(cs.head)
    case "RANDOM" => rand()
    case "TODATE" => raw match {
      case List(_) => cs.head.cast(TimestampType)
      case List(_, Lit(f: String)) => to_timestamp(cs.head, f)
      case _ => sys.error("ToDate(str[, format])")
    }
    case "TOSTRING" => raw match {
      case List(_, Lit(f: String)) => date_format(cs.head, f)
      case _ => cs.head.cast(StringType)
    }
    case "TOUNIXTIME" => PF.toUnixTime(cs.head)
    case "CURRENTTIME" => current_timestamp()
    case "GETYEAR" => PF.getYear(cs.head)
    case "GETMONTH" => PF.getMonth(cs.head)
    case "GETDAY" => PF.getDay(cs.head)
    case "GETHOUR" => PF.getHour(cs.head)
    case "GETMINUTE" => PF.getMinute(cs.head)
    case "GETSECOND" => PF.getSecond(cs.head)
    case "GETWEEK" => PF.getWeek(cs.head)
    case "GETWEEKYEAR" => PF.getWeekYear(cs.head)
    case "GETMILLISECOND" => PF.getMilliSecond(cs.head)
    case "TOMILLISECONDS" => PF.toMilliSeconds(cs.head)
    case "ADDDURATION" => raw(1) match {
      case Lit(d: String) => PF.addDuration(cs.head, d)
      case _ => sys.error("AddDuration needs a literal ISO duration")
    }
    case "SUBTRACTDURATION" => raw(1) match {
      case Lit(d: String) => PF.subtractDuration(cs.head, d)
      case _ => sys.error("SubtractDuration needs a literal ISO duration")
    }
    case "DAYSBETWEEN" => PF.daysBetween(cs.head, cs(1))
    case "HOURSBETWEEN" => PF.hoursBetween(cs.head, cs(1))
    case "MINUTESBETWEEN" => PF.minutesBetween(cs.head, cs(1))
    case "SECONDSBETWEEN" => PF.secondsBetween(cs.head, cs(1))
    case "MILLISECONDSBETWEEN" => PF.milliSecondsBetween(cs.head, cs(1))
    case "WEEKSBETWEEN" => PF.weeksBetween(cs.head, cs(1))
    case "MONTHSBETWEEN" => PF.monthsBetweenPig(cs.head, cs(1))
    case "YEARSBETWEEN" => PF.yearsBetweenPig(cs.head, cs(1))
    // aggregates appearing in non-fused contexts operate on bag
    // columns. Pig COUNT/SUM skip null elements (the fused path's
    // count(x)/sum(x) do too) — a raw size() would count nulls and a
    // raw fold would null the whole SUM on one null element
    case "COUNT" => typeOf(df, cs.head) match {
      // whole-tuple bag: Pig COUNT skips tuples whose FIRST field is
      // null (the fused path's count(first column) does too); struct
      // elements themselves are never null, so the element filter
      // below would count everything (r17 review). A NULL bag counts
      // NULL, not the -1 the ANSI-off size(null) would leak (r18
      // piglatin review — filter(null) is null, so the guard is the
      // size() call's, same family as SIZE above)
      case ArrayType(s: StructType, _) =>
        when(cs.head.isNull, lit(null).cast(LongType))
          .otherwise(size(filter(cs.head,
            x => x.getField(s.fields.head.name).isNotNull)).cast(LongType))
      case _ =>
        when(cs.head.isNull, lit(null).cast(LongType))
          .otherwise(size(filter(cs.head, x => x.isNotNull)).cast(LongType))
    }
    case "SUM" => typeOf(df, cs.head) match {
      case ArrayType(IntegerType | LongType | ShortType | ByteType, _) =>
        aggregate(filter(cs.head, x => x.isNotNull),
          lit(0L), (acc, x) => acc + x.cast(LongType))
      case _ =>
        aggregate(filter(cs.head, x => x.isNotNull),
          lit(0.0), (acc, x) => acc + x.cast(DoubleType))
    }
    case "AVG" => typeOf(df, cs.head) match {
      // null elements are SKIPPED (Pig AVG / the fused avg(x)): one
      // null used to poison the whole fold, and the divisor counted
      // nulls; an all-null/empty bag averages to NULL (r17 review)
      case _: ArrayType =>
        val nn = filter(cs.head, x => x.isNotNull)
        when(size(nn) === 0, lit(null).cast(DoubleType))
          .otherwise(
            aggregate(nn, lit(0.0), (acc, x) => acc + x.cast(DoubleType)) /
              size(nn))
      case _ => sys.error("AVG outside aggregation needs a bag argument")
    }
    case "MAX" => array_max(cs.head)
    case "MIN" => array_min(cs.head)
    case other => userFns.get(other) match {
      case Some(fn) => fn(cs)
      case None => sys.error(s"unknown function $other — register with registerFunction")
    }
  }
}
