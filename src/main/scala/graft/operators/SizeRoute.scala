package graft.operators

import scala.reflect.ClassTag
import scala.util.DynamicVariable

import org.apache.spark.sql.{DataFrame, Observation, Row, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LogicalPlan, Project}
import org.apache.spark.sql.functions.{col, count, lit}
import org.apache.spark.sql.types._

/** The one size-routing policy: every operator that can run either a
  * driver-local kernel or a distributed one (Bfs, Components, the
  * GraphOps fixpoints, Ranking, RankCorr's cumulation, PrefixSum,
  * TableStats) asks here which route to take. A call site keeps only
  * its schema-eligibility test, its local kernel and its distributed
  * kernel; the caps, the probe, the RDD-backed return and the test
  * hook that forces a route live in this object.
  *
  * THE CAPS. [[MaxLocalEdges]] = 4M edges ≈ 64 MB of long pairs on the
  * driver — the same order as a broadcast side, so driver memory is
  * bounded by the cap, never the data. Under it the graph kernels
  * (union-find, Tarjan, peel, CSR label rounds, Kahn, BFS) are linear
  * driver passes, where the distributed fixpoints pay O(iterations)
  * scheduled jobs (each call site records its measurement).
  * [[MaxLocalRows]] = 250k rows ≈ 10 MB of count-table rows: measured
  * crossover — a 7e5-row table is already faster on the sampled-range
  * path than collect + parallelize.
  *
  * THE PROBE. The r17 probe pin (observe + eager localCheckpoint) ran
  * UNCONDITIONALLY, which taxed above-cap callers with a full extra
  * materialization (measured: q93_weighted_median +25%,
  * q165_jonckheere +20%). Plan statistics cannot gate it — measured
  * at sf0.1, the optimizer's sizeInBytes puts a 583k-row aggregate at
  * 2.2 MB (4 B/row) and a 150-row aggregate at 4.1 MB (27 KB/row),
  * with rowCount None everywhere: the estimate orders real candidates
  * BACKWARDS. What IS knowable for free: the schema (key types rule
  * the local route out before any probe) and the plan SHAPE — an
  * input that is already a materialized scan (a caller's
  * localCheckpoint, a cached relation, local rows) needs no pin at
  * all, because re-reading it is exactly as cheap as reading a fresh
  * pin; a plain count() probes it without the re-serialization.
  *
  * THE RETURN. Local kernels come back RDD-backed, never as a
  * row-scale LocalRelation: embedding 10⁵⁺ rows in the logical plan
  * re-serializes them through every consumer's planning pass
  * (measured: jonckheere's 7e5-row fill went 7 s → 12+ s as a
  * LocalRelation; as a parallelized RDD the plan holds only a
  * reference).
  */
private[graft] object SizeRoute {

  /** Edge-list cap of the graph kernels (see the object doc). */
  val MaxLocalEdges = 4000000L

  /** Row cap of the rank / cumulation kernels (see the object doc). */
  val MaxLocalRows = 250000L

  private val forced = new DynamicVariable[Option[Boolean]](None)

  /** Test hook: run `body` with every size decision forced local
    * (`true`) or distributed (`false`), with no probe. Eligibility
    * still applies — an input its local kernel cannot run stays
    * distributed — and refusal caps that are not routes (louvain's
    * phase-2 collect) are unaffected.
    */
  def forceRoute[T](local: Boolean)(body: => T): T =
    forced.withValue(Some(local))(body)

  /** The outcome of a route decision: take the local kernel or not,
    * on `input` — the probed frame (pinned when the probe had to
    * materialize it), which the distributed kernel should read too.
    * `rows` is the probe's count, when one ran.
    */
  final case class Route(local: Boolean, input: DataFrame, rows: Option[Long]) {
    /** The local route's edge list — [[longPairs]] of the input — or
      * None on the distributed route.
      */
    def localPairs: Option[Array[(Long, Long)]] =
      if (local) longPairs(input) else None
  }

  /** Decide the route for `df` against `cap`. An ineligible input
    * gets no probe at all; an eligible input that is already a
    * materialized scan gets a plain count(); an eligible,
    * unmaterialized input is pinned once, its row count riding the
    * checkpoint as an Observation metric.
    */
  def decide(df: DataFrame, eligible: Boolean, cap: Long): Route =
    if (!eligible) Route(local = false, df, None)
    else forced.value match {
      case Some(local) => Route(local, df, None)
      case None if isMaterializedScan(df.queryExecution.optimizedPlan) =>
        val n = df.count()
        Route(n <= cap, df, Some(n))
      case None =>
        val obs = Observation()
        val pinned = df.observe(obs, count(lit(1)).as("rows"))
          .localCheckpoint(true)
        val n = obs.get("rows").asInstanceOf[Long]
        Route(n <= cap, pinned, Some(n))
    }

  /** Key-type eligibility shared by the rank and graph kernels:
    * integral values compare identically on the driver and in Spark
    * (strings do not outside the BMP).
    */
  def integral(dt: DataType): Boolean = dt match {
    case LongType | IntegerType | ShortType | ByteType => true
    case _ => false
  }

  /** The route decision for a size the caller already knows. */
  def fits(rows: Long, cap: Long): Boolean = forced.value.getOrElse(rows <= cap)

  /** The edge collect every graph kernel starts from: the frame's
    * first two (integral) columns as long pairs, or None when any
    * endpoint is null — null-bearing inputs fall through to the
    * distributed kernel, whose equi-join null semantics are their
    * contract.
    */
  private def longPairs(df: DataFrame): Option[Array[(Long, Long)]] = {
    import df.sparkSession.implicits._
    val Array(a, b, _*) = df.columns
    val pairs = df.select(col(a).cast("long"), col(b).cast("long"))
      .as[(java.lang.Long, java.lang.Long)].collect()
    if (pairs.exists(p => p._1 == null || p._2 == null)) None
    else Some(pairs.map(p => (p._1.longValue, p._2.longValue)))
  }

  /** The one return of every local kernel: `rows` parallelized into
    * an RDD-backed frame of `schema` (one slice per 20k rows, at most
    * the default parallelism), converted to Rows lazily by `toRow`.
    */
  def rddBacked[T: ClassTag](spark: SparkSession, schema: StructType,
                             rows: Seq[T])(toRow: T => Row): DataFrame = {
    val sc = spark.sparkContext
    val slices =
      math.max(1, math.min(sc.defaultParallelism, 1 + rows.length / 20000))
    spark.createDataFrame(sc.parallelize(rows, slices).map(toRow), schema)
  }

  /** An all-bigint schema — the graph kernels' output shape. */
  def longCols(names: String*): StructType =
    StructType(names.map(StructField(_, LongType)))

  /** True when the frame's optimized plan is already a materialized
    * scan — a checkpoint/`parallelize` RDD, a cached relation, or
    * driver-local rows — under at most Filter/Project wrappers.
    * Re-checkpointing such an input only re-serializes bytes that are
    * already sitting in block storage; recomputing it twice costs two
    * cheap scans. (Class-name match: LogicalRDD and InMemoryRelation
    * are private[sql].)
    */
  @annotation.tailrec
  private def isMaterializedScan(plan: LogicalPlan): Boolean = plan match {
    case f: Filter => isMaterializedScan(f.child)
    case p: Project => isMaterializedScan(p.child)
    case leaf =>
      val n = leaf.getClass.getSimpleName.stripSuffix("$")
      n == "LogicalRDD" || n == "LocalRelation" || n == "InMemoryRelation"
  }
}
