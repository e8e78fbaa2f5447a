package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.{Alias, Attribute, AttributeReference, Literal}
import org.apache.spark.sql.catalyst.plans.logical._

/** PLAN-LEVEL tripwire for the generate totality/cost convention
  * (round-11 verdict #5 hardening of [[ConventionSpec]]): the
  * source-grep pin only matches the `explode(col(` spelling, so an
  * `explode($"x")` / `explode(df("x"))` / `selectExpr("explode(...")`
  * site would silently bypass the audit the spec exists to force.
  * This suite asserts over the ANALYZED LOGICAL PLANS of every
  * registered query — spelling-proof by construction: whatever API
  * produced it, a dangerous generate IS a `Generate(outer = false)`
  * node in the analyzed plan.
  *
  * The dangerous shape (the round-10 crash + round-11 cost class):
  * a non-outer Generate whose generator input is an attribute
  * produced by a PROJECT-LEVEL EXPRESSION below it (or an inline
  * non-attribute expression). `InferFiltersFromGenerate` infers
  * `size(x) > 0` on exactly these, and predicate pushdown
  * SUBSTITUTES the defining expression into the inferred filter —
  * evaluating partial expressions on rows an upstream guard dropped
  * (crash class) and re-evaluating the whole defining expression
  * per row (cost class). Safe producers, by the same mechanics:
  *  - AGGREGATE output: pushdown cannot substitute through an
  *    aggregate boundary (JoinSearch's kcs/req, TextAnalysis's
  *    plist);
  *  - RELATION / cached scan: the attribute is stored, nothing to
  *    recompute or crash on;
  *  - another GENERATE's output / WINDOW output: inferred filters
  *    on these cannot be pushed below their producer with
  *    substitution.
  */
class GenerateAuditSpec extends SparkTestBase {

  /** Where attribute `a`'s value ultimately comes from, walking down
    * through projections (following pure renames) until a node that
    * genuinely produces it.
    */
  private def producerOf(plan: LogicalPlan, a: Attribute): String = plan match {
    case p: Project =>
      p.projectList.find(_.exprId == a.exprId) match {
        case Some(al: Alias) => al.child match {
          case ar: AttributeReference => producerOf(p.child, ar)
          case _: Literal => "literal"
          case _ => "project-expression" // the substitutable class
        }
        case Some(ar: AttributeReference) => producerOf(p.child, ar)
        case _ => producerOf(p.child, a)
      }
    case _: Aggregate => "aggregate"
    case _: Window => "window"
    case g: Generate if g.generatorOutput.exists(_.exprId == a.exprId) =>
      "generate"
    case g: Generate => producerOf(g.child, a)
    case _: LeafNode => "relation"
    case u: UnaryNode => producerOf(u.child, a)
    case b =>
      b.children.find(_.outputSet.contains(a))
        .map(producerOf(_, a))
        .getOrElse(s"opaque:${b.getClass.getSimpleName}")
  }

  /** The dangerous non-outer generates in `plan`, described. */
  private def dangerousGenerates(plan: LogicalPlan): Seq[String] =
    plan.collect {
      case g: Generate if !g.outer =>
        val inline = g.generator.children.filter {
          case _: Attribute | _: Literal => false
          case _ => true
        }
        val flagged =
          inline.map(e => s"inline-expression(${e.sql.take(60)})") ++
            g.generator.children.collect { case ar: AttributeReference =>
              producerOf(g.child, ar) match {
                case "project-expression" => Some(s"project-expression(${ar.name})")
                case s if s.startsWith("opaque:") => Some(s"$s(${ar.name})")
                case _ => None
              }
            }.flatten
        flagged
    }.flatten

  /** The AUDITED substitutable-generate sites across every registered
    * query's analyzed plan (site signature = producer kind + first 60
    * chars of the defining/inline expression). Every entry is a
    * consciously-total shape where the inferred-filter substitution
    * can only re-evaluate a total, cheap expression — never crash:
    *  - `CASE WHEN (size(..) >= k) THEN transform(sequence(..` — the
    *    when-guarded shinglesOf/gram windows (grams, shingles, spans,
    *    BPE pairs): CASE-total by the round-10 convention; the arrays
    *    are consumed once, so the substitution's double evaluation is
    *    bounded and measured (ConventionSpec's element_at/sequence
    *    allowlist documents the same sites at source level);
    *  - `array(..)` / `sequence(..)` / `split(static_invoke(clean..` /
    *    `regexp_extract_all(..` — total constructors over the row's
    *    own columns (minhash band structs, epoch/chunk sequences,
    *    clean-token splits);
    *  - `project-expression(<col>)` — the source-table cast/trim
    *    projections feeding the unpivot explode (JoinSearch mappings,
    *    CSV/URL source casts): total scalar expressions over scanned
    *    columns.
    * A NEW signature here means a NEW non-outer generate over a
    * computed input — whatever API spelling produced it — and forces
    * this audit: is the expression total on EVERY row (crash class),
    * and is its double evaluation acceptable (cost class)? If not,
    * make the generate outer + null-filter (the winnowOf convention).
    */
  private val audited: Set[String] = Set(
    // round-18: the five CAST(<col> AS STRING) wide-view unpivot
    // generates audited in round 17 left the registered plans — the
    // wide INDEX is now a durable artifact (Queries.loadOrBuildWideIndex),
    // so search_wide5_* plans read the artifact scan instead of
    // generating the unpivot inline. Nothing new to audit.
    // round-17 optimization, audited: reduce()/conjunctionAnchored's
    // row-local (key, min column) dedup explodes `filter(kraw, ..)`
    // over an AGGREGATE output. The inferred `size(kcs) > 0` cannot
    // be substituted below the aggregate boundary, the lambda is
    // index-guarded total (`i = 0 OR kraw[i-1]..`), and the double
    // evaluation is one array filter over a <= column-count list.
    "project-expression(kcs)",
    "inline-expression(CASE WHEN (size(t) >= 2) THEN transform(sequence(1, (size(t))",
    "inline-expression(CASE WHEN (size(t) >= 3) THEN transform(sequence(1, (size(t))",
    "inline-expression(CASE WHEN (size(t) >= 4) THEN transform(sequence(1, (size(t))",
    "inline-expression(array(struct(0, CAST((((((((CASE WHEN (element_at(q, 1) >= C)",
    "inline-expression(array(struct(0, md5(CAST(concat(mh0, '|', mh1) AS BINARY))),)",
    "inline-expression(array(t0, t1))",
    "inline-expression(array_distinct(CASE WHEN (size(t) >= 5) THEN transform(seque)",
    "inline-expression(array_distinct(CASE WHEN (size(w) >= 3) THEN transform(seque)",
    "inline-expression(array_distinct(split(cleaned, ' ', -1)))",
    "inline-expression(array_distinct(split(static_invoke(graft.functions.CleanFns.)",
    "inline-expression(regexp_extract_all(lower(text), '[a-z]+', 0))",
    "inline-expression(sequence(0, (n_chunks - 1)))",
    "inline-expression(sequence(0L, 2L))",
    "inline-expression(sequence(start, (start + CAST(3 AS BIGINT))))",
    "inline-expression(slice(split(static_invoke(graft.functions.CleanFns.clean(tex)",
    "inline-expression(split(static_invoke(graft.functions.CleanFns.clean(text)), ')",
    "project-expression(c_mktsegment)",
    "project-expression(c_name)",
    "project-expression(map_key)",
    "project-expression(n_name)",
    "project-expression(o_orderpriority)",
    "project-expression(o_orderstatus)",
    "project-expression(p_brand)",
    "project-expression(p_name)",
    "project-expression(p_type)",
    "project-expression(r_name)")

  test("substitutable non-outer generates in registered plans match the audited set") {
    // a search's plan reads its column scores as a detached RDD scan;
    // the fill plans behind those entries are audited with it
    val found = SparkEntry.queries.toSeq.flatMap { case (_, fn) =>
      val fills = scala.collection.mutable.ArrayBuffer.empty[() => DataFrame]
      val plan = graft.operators.JoinSearch.fillPlans.withValue(fills += _)(
        fn(spark, sf0001))
      (plan +: fills.map(_())).flatMap(p => dangerousGenerates(p.queryExecution.analyzed))
    }.toSet
    assert(found == audited,
      "\nthe substitutable non-outer generate set changed — audit each " +
        "new/changed site against the inferred-filter crash class and the " +
        "pushdown substitution cost class (see `audited` scaladoc), then " +
        "re-pin.\nNew: " + (found -- audited).toSeq.sorted.mkString("\n  ", "\n  ", "") +
        "\nGone: " + (audited -- found).toSeq.sorted.mkString("\n  ", "\n  ", "\n"))
  }

  test("the audit sees a deliberately planted dangerous generate") {
    import spark.implicits._
    import org.apache.spark.sql.functions.explode
    // exactly the round-10 shape, spelled with $"..." — the spelling
    // the source-grep tripwire cannot see.
    val planted = spark.range(3)
      .selectExpr("sequence(1, cast(id as int)) as xs")
      .select(explode($"xs"))
    val flags = dangerousGenerates(planted.queryExecution.analyzed)
    assert(flags.exists(_.startsWith("project-expression(xs")), flags)
    // and the safe spelling of the same pipeline passes.
    val safe = spark.range(3)
      .selectExpr("sequence(1, cast(id as int)) as xs")
      .select(org.apache.spark.sql.functions.explode_outer($"xs").as("x"))
      .where($"x".isNotNull)
    assert(dangerousGenerates(safe.queryExecution.analyzed).isEmpty)
  }
}
