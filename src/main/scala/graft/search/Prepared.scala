package graft.search

import org.apache.spark.sql.{Column, DataFrame, GraftShim, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{Expression, Unevaluable}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.types.DataType

/** The slot of a named request value in a [[Prepared]] plan. A template is
  * analyzed with slots where the request's values go; binding swaps each
  * slot for the expression the request's value makes of the slot's
  * `children` (a lookup key, say). Unevaluable, so never foldable: a plan
  * that still holds a slot is not runnable.
  */
case class Slot(name: String, dataType: DataType, nullable: Boolean,
                children: Seq[Expression]) extends Expression with Unevaluable {
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Slot = copy(children = newChildren)
}

/** One request shape's resolved (analyzed) logical plan, built once, with
  * [[Slot]]s where the request values go.
  *
  * A served query built through ~15 chained `withColumn`/`filter`/`drop`
  * calls is analyzed eagerly at every call; on the warm request path that
  * rebuild is most of the driver time. A prepared plan pays it once per
  * shape. [[bind]] copies the template with every slot swapped for the
  * request's expression and wraps the copy, marked analyzed, in a fresh
  * Dataset: optimization and physical planning still run per request, so
  * the optimized plan and the generated code are those of the plan the
  * chained calls would have built. Only the LOGICAL plan is reused. A
  * physical plan is never executed twice: a re-executed exchange reuses
  * the shuffle it wrote, and the query answers with the previous request's
  * rows.
  *
  * The template is immutable: binding builds new nodes, so concurrent
  * requests share it freely.
  */
final class Prepared private (spark: SparkSession, val template: LogicalPlan) {

  /** The template with every slot bound, as a runnable DataFrame. */
  def bind(values: (String, Seq[Expression] => Expression)*): DataFrame = {
    val byName = values.toMap
    val bound = template.transformAllExpressions {
      case s: Slot => byName.getOrElse(s.name,
        throw new IllegalArgumentException(s"no value bound to slot '${s.name}'"))(s.children)
    }
    GraftShim.ofAnalyzed(spark, bound)
  }
}

/** The template registry. Templates live beside the session artifact they
  * read (the sketch index, the metadata TF table): the artifact's owner
  * [[open]]s a table when it publishes the artifact and [[drop]]s it in the
  * swap that supersedes it, under the lock that swap already holds, so no
  * template outlives its artifact and keeps its blocks reachable. A shape
  * over a DataFrame that is not an open artifact is built per call, and
  * bound the same way.
  */
object Prepared {
  // identity-keyed: equal plans of two artifact versions are distinct
  // artifacts with distinct templates
  private val tables = java.util.Collections.synchronizedMap(
    new java.util.IdentityHashMap[DataFrame,
      scala.collection.concurrent.TrieMap[Any, Prepared]]())

  /** Start keeping templates for `artifact`; returns it. */
  def open(artifact: DataFrame): DataFrame = {
    tables.putIfAbsent(artifact, scala.collection.concurrent.TrieMap.empty)
    artifact
  }

  /** Forget `artifact`'s templates (it has been superseded or reset). */
  def drop(artifact: DataFrame): Unit = tables.remove(artifact)

  /** The prepared plan of `shape` over `artifact`: its template, built by
    * `build` the first time the shape is asked for. `shape` must cover
    * everything that changes the analyzed plan except the bound values.
    */
  def of(artifact: DataFrame, shape: Any)(build: => DataFrame): Prepared = {
    def prepare() = new Prepared(artifact.sparkSession,
      GraftShim.analyzedPlan(build))
    Option(tables.get(artifact)).fold(prepare())(_.getOrElseUpdate(shape, prepare()))
  }

  /** A slot for `name` in a template under construction. */
  def slot(name: String, dataType: DataType, nullable: Boolean = false,
           children: Seq[Column] = Nil): Column =
    GraftShim.column(Slot(name, dataType, nullable, children.map(GraftShim.expression)))

  /** A bound value that ignores the slot's children. */
  def value(e: Expression): Seq[Expression] => Expression = _ => e

  /** Every kept template, for inspection: (artifact, shape, plan). */
  private[graft] def templates: Seq[(DataFrame, Any, LogicalPlan)] =
    tables.synchronized {
      import scala.jdk.CollectionConverters._
      tables.asScala.toSeq.flatMap { case (a, t) =>
        t.toSeq.map { case (s, p) => (a, s, p.template) } }
    }
}
