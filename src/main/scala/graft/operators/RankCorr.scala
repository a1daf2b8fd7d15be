package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Per-group SPEARMAN rank correlation with exact tie handling — the
  * monotone-association metric (robust to outliers and nonlinearity,
  * unlike Pearson): ρ = Pearson correlation of the per-group
  * MIDRANKS of x and y (Spearman 1904; the midrank tie convention is
  * the standard one).
  *
  * Exactness: ranks are kept as DOUBLED midranks (2·midrank is
  * always an integer — ties average two integers), so every sum in
  * the Pearson formula is exact DECIMAL(38,0) algebra; ρ is ONE
  * double division of two exact aggregates, rounded — the q71/q105
  * convention. Engine-portable: both engines read the same integer
  * sums (exact in double up to group sizes of ~2^17 rows at the n³
  * growth of Σm2², far past any verify SF; the decimal keeps the
  * ENGINE exact to ~10^9-row groups regardless).
  *
  * Scale shape (the tokenBudgetPerGroup discipline — never a
  * row-scale window, partitioned or not): per-(group, value) count
  * tables first (value-cardinality), then ONE composite-key
  * [[Ranking.globalRank]] + [[PrefixSum]] over the rank axis gives
  * within-group cumulative counts below each value (prior-group
  * masses off a second group-cardinality PrefixSum, broadcast back);
  * doubled midrank m2 = 2·cumBelow + cnt + 1. Rows join their two
  * midrank tables (row-scale equi-joins against value-cardinality
  * sides) and one hash aggregate per group finishes.
  */
object RankCorr {

  /** INJECTIVE composite key for feeding a (fam, sub) pair through
    * the single-column cumulation machinery: len(fam) ⊕ fam ⊕ sub is
    * parseable back uniquely for ANY string contents (the first
    * separator ends the digit-only length prefix, which fixes fam's
    * extent; the remainder is sub) — a plain fam ⊕ sub concat could
    * merge distinct groups when fam contains the separator.
    */
  private[graft] def compositeKey(fam: Column, sub: Column): Column =
    concat_ws("\u0001", length(fam.cast("string")), fam, sub)

  /** (g, vc, cnt, below) — the per-(group, value) count table with
    * the WITHIN-GROUP cumulative row count strictly below each value.
    * The shared primitive under doubled midranks (here) and
    * order-statistic selection ([[RobustStats]]).
    */
  private[operators] def groupCumCounts(rows: DataFrame, vc: String): DataFrame =
    cumFromCounts(rows.groupBy(col("g"), col(vc))
      .agg(count(lit(1)).as("cnt")), vc)

  /** Same, from a PRE-AGGREGATED (g, vc, cnt) count table — the form
    * streaming maintenance holds as state (counts are the additive
    * sufficient statistic for every order-statistic readout).
    */
  private[operators] def cumFromCounts(counts: DataFrame, vc: String): DataFrame =
    cumFromCountsWith(counts, vc, None)

  /** FUSED grouped cumulation (r16 — the whole rank/order-statistic
    * battery's pass-count floor lived here): ONE sampled range
    * partition on (g, vc), pinned by ONE eager localCheckpoint, then
    * ONE model-sized collect, then a lazy partition-LOCAL window —
    * where the previous composition (globalRank + two PrefixSum
    * passes) paid three pins and three collects for the same
    * integers.
    *
    *  - Each partition holds a CONTIGUOUS (g, vc) range, so a group
    *    needs a non-zero starting offset only when it SPANS a
    *    partition boundary — at most ~2·#partitions (partition,
    *    group) rows ever reach the driver, independent of group
    *    count (the model-sized-collect convention).
    *  - The duplicate-key guard rides the SAME collect (count vs
    *    count_distinct per (partition, group) cell; range
    *    partitioning never splits equal keys, so per-cell
    *    distinctness is global distinctness).
    *  - below = partition-local running cnt − cnt + broadcast
    *    offset: exact integer algebra, identical to the previous
    *    global-cumulation-minus-prior form.
    *  - `valCol` optionally cumulates a SECOND column in the same
    *    window (within-group INCLUSIVE running sum, emitted as
    *    `cumv`) — the trimmed-mean value-mass axis, previously a
    *    whole extra PrefixSum pass.
    *  - `carry` columns ride the window pass untouched and project
    *    into the output — consumers that previously re-JOINED their
    *    payload back onto the cumulation (survival's event counts,
    *    jonckheere's family/sample split) skip that whole shuffle.
    *
    * Null groups are dropped (the previous prior-join behavior,
    * now explicit). Rows must be unique on (g, vc) — enforced.
    *
    * Size-routed by [[SizeRoute]] (measured: q138_mad scheduled 50
    * jobs on a 15k-row input, almost all of them this machinery's
    * sampling / pinning / boundary-collect fixed costs, twice): under
    * the row cap and with an integral rank axis, the cumulation is ONE
    * linear driver pass over the collected count table — same
    * refusals, same schema, same integers (grouping is hash-based and
    * only `vc` is ordered, so JVM-vs-UTF8 string collation can never
    * matter; the spec pins cross-route equality). A valCol (when
    * cumulated) must be integral or decimal: the local BigDecimal
    * accumulation is exact only there (a double valCol would expose
    * float summation order). Above the cap — the 100 TB regime — the
    * sampled-range path ([[cumDistributed]]) runs unchanged, sampling
    * the probe's pinned input instead of recomputing the upstream
    * aggregation twice.
    */
  private[graft] def cumFromCountsWith(countsIn: DataFrame, vc: String,
                                           valCol: Option[String],
                                           carry: Seq[String] = Nil)
      : DataFrame = {
    import org.apache.spark.sql.types._
    val valOk = valCol.forall(c => countsIn.schema(c).dataType match {
      case _: DecimalType => true
      case dt => SizeRoute.integral(dt)
    })
    val r = SizeRoute.decide(countsIn.filter(col("g").isNotNull),
      SizeRoute.integral(countsIn.schema(vc).dataType) && valOk,
      SizeRoute.MaxLocalRows)
    if (r.local) cumLocal(r.input, vc, valCol, carry)
    else cumDistributed(r.input, vc, valCol, carry)
  }

  /** Distributed route of [[cumFromCountsWith]]: the sampled-range
    * cumulation over a count table whose groups are non-null.
    */
  private def cumDistributed(counts: DataFrame, vc: String,
                             valCol: Option[String],
                             carry: Seq[String]): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.types._
    val spark = counts.sparkSession
    val n = spark.sessionState.conf.numShufflePartitions
    val ranged = counts.repartitionByRange(n, col("g"), col(vc))
      .localCheckpoint(true) // pin the sampled range layout
    val withPid = ranged.withColumn("__pid",
      spark_partition_id().cast("long"))
    val baseAggs = Seq(sum(col("cnt")).as("__t"),
      count(lit(1)).as("__rows"),
      count_distinct(col(vc)).as("__nd"),
      sum(when(col(vc).isNull, 1L).otherwise(0L)).as("__nn")) ++
      valCol.map(c => sum(col(c)).as("__tv"))
    val pg = withPid.groupBy(col("__pid"), col("g"))
      .agg(baseAggs.head, baseAggs.tail: _*)
    // collect ONLY boundary-spanning groups (offset ≠ 0) and any
    // duplicate-key or null-value offenders — model-sized regardless
    // of group count
    val flagged = pg
      .withColumn("__span", count(lit(1)).over(Window.partitionBy(col("g"))))
      .filter(col("__span") > 1 || col("__rows") =!= col("__nd") ||
        col("__nn") > 0)
      .collect()
    // null values refuse FIRST with their own diagnosis (r17):
    // count_distinct ignores NULLs, so a group with a null-value row
    // trips __rows != __nd — without this check it would be refused
    // with a misleading "must be unique" message (a bad cast to long
    // is the real, and common, cause)
    require(flagged.forall(_.getAs[Long]("__nn") == 0L),
      s"cumFromCounts: null values in $vc (often a failed cast of bad " +
        "data) — rank inputs must be non-null; filter or fix the cast " +
        "first")
    require(flagged.forall(r =>
      r.getAs[Long]("__rows") == r.getAs[Long]("__nd")),
      s"cumFromCounts: rows must be unique on (g, $vc) — aggregate to " +
        "the (group, value) key first")
    // per-(partition, group) starting offsets, accumulated in
    // partition order on the driver. The VALUE carry is tracked as an
    // Option (r18 — ADVICE parity fix): None until some prior
    // partition of the group actually saw a non-null valCol value, so
    // a group whose earlier partitions are all-null carries a NULL
    // offset (cumv stays null, the "no value seen yet" SQL running-sum
    // semantics the local route implements) rather than a spurious 0.
    val run = scala.collection.mutable
      .Map.empty[Any, (BigDecimal, Option[BigDecimal])]
    val offRows = flagged.sortBy(_.getAs[Long]("__pid")).map { r =>
      val g = r.getAs[Any]("g")
      val (c0, v0) = run.getOrElse(g, (BigDecimal(0), Option.empty[BigDecimal]))
      val t = BigDecimal(Option(r.getAs[Any]("__t")).fold("0")(_.toString))
      val tv = valCol.flatMap(_ =>
        Option(r.getAs[Any]("__tv")).map(v => BigDecimal(v.toString)))
      val v1 = if (v0.isEmpty && tv.isEmpty) None
        else Some(v0.getOrElse(BigDecimal(0)) + tv.getOrElse(BigDecimal(0)))
      run(g) = (c0 + t, v1)
      org.apache.spark.sql.Row(r.getAs[Long]("__pid"), g,
        c0.toString, v0.map(_.toString).orNull)
    }
    val gType = counts.schema("g").dataType
    val offDf = broadcast(spark.createDataFrame(
      java.util.Arrays.asList(offRows: _*),
      StructType(Seq(StructField("__pid", LongType),
        StructField("g", gType), StructField("__coff", StringType),
        StructField("__voff", StringType)))))
    val w = Window.partitionBy(col("__pid"), col("g")).orderBy(col(vc))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val dz = lit(0).cast("decimal(38,0)")
    val out = withPid.join(offDf, Seq("__pid", "g"), "left")
      .withColumn("below",
        (sum(col("cnt")).over(w) - col("cnt")
          + coalesce(col("__coff").cast("decimal(38,0)"), dz))
          .cast("bigint"))
    // cumv: a non-null carried offset rescues a null partition-local
    // window sum (values seen in a PRIOR partition of the group — the
    // running sum is the carry); with no carry the window sum stands,
    // null until the group's first value (the local route's sawVal
    // semantics; identical to the old expression whenever either side
    // is non-null, since x + 0 = x and null-carry was rendered "0")
    val cols = Seq(col("g"), col(vc), col("cnt"), col("below")) ++
      valCol.map(c => when(col("__voff").isNotNull,
          coalesce(sum(col(c)).over(w), dz)
            + col("__voff").cast("decimal(38,0)"))
        .otherwise(sum(col(c)).over(w))
        .cast("decimal(38,0)").as("cumv")) ++
      carry.map(col)
    out.select(cols: _*)
  }

  /** Driver-local route of [[cumFromCountsWith]] for count tables
    * under the size cap: one linear pass over the collected rows —
    * hash-grouped on g (no cross-group ordering, so string collation
    * differences between the JVM and UTF8String cannot matter), each
    * group sorted on the INTEGRAL rank axis. Identical refusal
    * messages, identical output schema and integers to the
    * distributed path (spec-pinned cross-route equality).
    */
  private def cumLocal(counts: DataFrame, vc: String,
                       valCol: Option[String],
                       carry: Seq[String]): DataFrame = {
    import org.apache.spark.sql.types._
    val schema = counts.schema
    val rows = counts.collect()
    val gi = schema.fieldIndex("g"); val vi = schema.fieldIndex(vc)
    val ci = schema.fieldIndex("cnt")
    val vli = valCol.map(schema.fieldIndex)
    val cis = carry.map(schema.fieldIndex)
    require(rows.forall(r => !r.isNullAt(vi)),
      s"cumFromCounts: null values in $vc (often a failed cast of bad " +
        "data) — rank inputs must be non-null; filter or fix the cast " +
        "first")
    val byG = rows.groupBy(_.get(gi))
    require(byG.valuesIterator.forall(rs =>
        rs.iterator.map(_.getAs[Number](vi).longValue).toSet.size
          == rs.length),
      s"cumFromCounts: rows must be unique on (g, $vc) — aggregate to " +
        "the (group, value) key first")
    val out = scala.collection.mutable.ArrayBuffer[org.apache.spark.sql.Row]()
    byG.valuesIterator.foreach { rs =>
      var below = 0L
      var acc = java.math.BigDecimal.ZERO
      var sawVal = false
      rs.sortBy(_.getAs[Number](vi).longValue).foreach { r =>
        val cumv: java.math.BigDecimal = vli match {
          case Some(i) =>
            if (!r.isNullAt(i)) {
              acc = acc.add(new java.math.BigDecimal(r.get(i).toString))
              sawVal = true
            }
            // HALF_UP mirrors Spark's decimal(38,0) cast on the
            // distributed path (a bare setScale(0) would THROW on a
            // fractional running sum — the valOk gate keeps fractional
            // decimals exact-summable, so this is belt and braces)
            if (sawVal) acc.setScale(0, java.math.RoundingMode.HALF_UP)
            else null
          case None => null
        }
        val vals = Seq(r.get(gi), r.get(vi), r.get(ci),
          java.lang.Long.valueOf(below)) ++
          (if (vli.isDefined) Seq(cumv) else Nil) ++ cis.map(r.get)
        out += org.apache.spark.sql.Row(vals: _*)
        below += r.getAs[Number](ci).longValue
      }
    }
    val outSchema = StructType(
      Seq(schema("g"), schema(vc), schema("cnt"),
        StructField("below", LongType)) ++
        valCol.map(_ => StructField("cumv", DecimalType(38, 0))) ++
        carry.map(schema(_)))
    SizeRoute.rddBacked(counts.sparkSession, outSchema, out.toSeq)(r => r)
  }

  /** (group, value, m2) — doubled midranks of `vc` within each group,
    * from the per-(group, value) count table.
    */
  private def midrank2(rows: DataFrame, vc: String): DataFrame =
    groupCumCounts(rows, vc)
      .select(col("g"), col(vc),
        (lit(2) * col("below") + col("cnt") + lit(1)).cast("bigint").as("m2"))

  /** Per-group WILCOXON SIGNED-RANK test — the non-parametric PAIRED
    * two-sample location test (Wilcoxon 1945; the paired complement
    * to the Welch/CUPED unpaired family): rank the |d| of the
    * non-zero paired differences with midrank ties, W+ = Σ ranks of
    * the positive differences, z = (W+ − n(n+1)/4) / sqrt(var) with
    * the standard tie-corrected variance
    * var = [2n(n+1)(2n+1) − Σ_t (t³−t)] / 48.
    *
    * EXACT: the count table is per-(group, |d|) with positive-side
    * counts riding along; midranks are the DOUBLED integers of
    * [[cumFromCounts]], so 2·W+ = Σ cells posCnt·m2 is an exact
    * DECIMAL sum, and 48·var is an exact integer — z is the ONE
    * double formula, shared verbatim with the oracle, rounded to 6.
    * Zero differences are dropped per the standard definition.
    *
    * Scale shape: one row-scale aggregate to the |d| count table,
    * then everything is value-cardinality (the [[RobustStats]]
    * discipline) — never a row-scale window.
    *
    * @param dCol integral paired difference (cents convention)
    * @return (groupCol, n, w2_plus = 2·W+, z) per group with ≥1
    *         non-zero difference
    */
  def wilcoxonSignedRank(df: DataFrame, groupCol: String,
                         dCol: String): DataFrame = {
    val cells = df.select(col(groupCol).as("g"),
        col(dCol).cast("long").as("d"))
      .filter(col("d") =!= 0L)
      .groupBy(col("g"), abs(col("d")).as("ad"))
      .agg(count(lit(1)).as("cnt"),
        sum(when(col("d") > 0, 1L).otherwise(0L)).as("pos"))
    // the positive-side count CARRIES through the fused cumulation
    // (r16): no (g, |d|) join-back, cells consumed exactly once —
    // no pin of its own (the cumulation pins internally)
    val m2 = cumFromCountsWith(
        cells.select(col("g"), col("ad"), col("cnt"), col("pos")), "ad",
        None, Seq("pos"))
      .withColumn("m2",
        (lit(2) * col("below") + col("cnt") + lit(1)).cast("long"))
    def dec(c: Column): Column = c.cast("decimal(38,0)")
    val agg = m2
      .groupBy(col("g"))
      .agg(sum(col("cnt")).cast("bigint").as("n"),
        sum(dec(col("pos")) * dec(col("m2"))).cast("decimal(38,0)").as("w2"),
        sum(dec(col("cnt")) * dec(col("cnt")) * dec(col("cnt"))
          - dec(col("cnt"))).cast("decimal(38,0)").as("t3t"))
    agg.select(col("g").as(groupCol), col("n"),
      col("w2").cast("bigint").as("w2_plus"),
      round((lit(2).cast("decimal(38,0)") * col("w2")
        - dec(col("n")) * dec(col("n") + 1)).cast("double") /
        (lit(4.0) * sqrt(
          (dec(lit(2)) * dec(col("n")) * dec(col("n") + 1)
            * dec(lit(2) * col("n") + 1) - col("t3t"))
            .cast("double") / lit(48.0))), 6).as("z"))
  }

  /** Per-group KENDALL τ-b between two BOUNDED-CARDINALITY ordinal
    * columns (Kendall 1938 with the τ-b tie correction) — the
    * pair-concordance association metric next to [[spearman]]'s
    * midrank form; τ-b is the one that stays meaningful under heavy
    * ties, which is exactly the bounded-ordinal regime.
    *
    * EXACT pair algebra on the per-(group, x, y) JOINT COUNT TABLE:
    * S = Σ_{cells i≠j} n_i·n_j·sign((x_i−x_j)(y_i−y_j)) = 2(C − D)
    * via a within-group self-join of the CELL table — pair volume is
    * cardinality², NEVER rows² (the calendar-bounded q112/q117
    * discipline: |x-values|·|y-values| cells per group regardless of
    * corpus size). Tie masses n(n−1) − Σ_x t_x(t_x−1) and the y twin
    * are exact integer marginal sums; τ-b is the ONE double division
    * rounded to 6, null when either margin is fully tied.
    *
    * @return (groupCol, n, s = 2(C−D), tau_b)
    */
  def kendallTauB(df: DataFrame, groupCol: String, xCol: String,
                  yCol: String): DataFrame = {
    val cells = df.select(col(groupCol).as("g"),
        col(xCol).cast("long").as("x"), col(yCol).cast("long").as("y"))
      .groupBy(col("g"), col("x"), col("y"))
      .agg(count(lit(1)).as("cnt"))
      .localCheckpoint(true) // self-join + two marginals + n
    def dec(c: Column): Column = c.cast("decimal(38,0)")
    val s = cells.as("a").join(cells.as("b"),
        col("a.g") === col("b.g") &&
          (col("a.x") =!= col("b.x") || col("a.y") =!= col("b.y")))
      .groupBy(col("a.g").as("g"))
      .agg(sum(dec(col("a.cnt")) * dec(col("b.cnt")) *
        signum((col("a.x") - col("b.x")).cast("double")).cast("int") *
        signum((col("a.y") - col("b.y")).cast("double")).cast("int"))
        .cast("decimal(38,0)").as("s"))
    val tx = cells.groupBy(col("g"), col("x"))
      .agg(sum(col("cnt")).as("t"))
      .groupBy(col("g"))
      .agg(sum(dec(col("t")) * (dec(col("t")) - 1)).cast("decimal(38,0)").as("tx"))
    val ty = cells.groupBy(col("g"), col("y"))
      .agg(sum(col("cnt")).as("t"))
      .groupBy(col("g"))
      .agg(sum(dec(col("t")) * (dec(col("t")) - 1)).cast("decimal(38,0)").as("ty"))
    val n = cells.groupBy(col("g")).agg(sum(col("cnt")).cast("bigint").as("n"))
    n.join(s, Seq("g"), "left").join(tx, Seq("g")).join(ty, Seq("g"))
      .select(col("g").as(groupCol), col("n"),
        coalesce(col("s"), lit(0).cast("decimal(38,0)"))
          .cast("bigint").as("s"),
        when(dec(col("n")) * (dec(col("n")) - 1) - col("tx") > 0 &&
          dec(col("n")) * (dec(col("n")) - 1) - col("ty") > 0,
          round(coalesce(col("s"), lit(0).cast("decimal(38,0)")).cast("double") /
            sqrt((dec(col("n")) * (dec(col("n")) - 1) - col("tx")).cast("double")
              * (dec(col("n")) * (dec(col("n")) - 1) - col("ty")).cast("double")),
            6))
          .otherwise(lit(null).cast("double")).as("tau_b"))
  }

  /** Per-family MANN–WHITNEY U / Wilcoxon RANK-SUM test (Mann &
    * Whitney 1947; Wilcoxon 1945) — the UNPAIRED two-sample location
    * test, completing the battery: [[wilcoxonSignedRank]] is its
    * paired sibling, [[kruskalWallis]] its K-sample generalization
    * (KW at k=2 is U², but U's signed z IS the standard two-sample
    * readout).
    *
    * EXACT: pooled doubled midranks off the shared [[cumFromCounts]]
    * count-table machinery; 2U_A = 2R_A − n_A(n_A+1) is an exact
    * integer, the tie sum Σ(t³−t) likewise; z is the ONE shared-text
    * double formula ([[mwZFormulaSql]] — tie-corrected variance
    * n_A·n_B/12·[(n+1) − Σ(t³−t)/(n(n−1))]) rounded 6.
    *
    * REFUSES families that don't have exactly two samples including
    * `sampleA` (the logRank convention).
    *
    * @return (famCol, na, nb, u2 = 2U_A, z) — z > 0 means sample A's
    *         values rank higher; z null on zero variance (all tied)
    */
  def mannWhitney(df: DataFrame, famCol: String, sampleCol: String,
                  valueCol: String, sampleA: String): DataFrame = {
    val cells = df.select(col(famCol).as("g"),
        col(sampleCol).cast("string").as("smp"),
        col(valueCol).cast("long").as("v"))
      .groupBy(col("g"), col("smp"), col("v"))
      .agg(count(lit(1)).as("cnt"))
      .localCheckpoint(true) // rank pass + agg
    val pooled = cells.groupBy(col("g"), col("v"))
      .agg(sum(col("cnt")).as("cnt"))
    val m2 = cumFromCounts(pooled, "v")
      .select(col("g"), col("v"),
        (lit(2) * col("below") + col("cnt") + lit(1)).cast("long").as("m2"))
    def dec(c: Column): Column = c.cast("decimal(38,0)")
    val ties = pooled.groupBy(col("g"))
      .agg(sum(dec(col("cnt")) * dec(col("cnt")) * dec(col("cnt"))
        - dec(col("cnt"))).cast("decimal(38,0)").as("t3t"),
        sum(col("cnt")).cast("bigint").as("n"))
    // the two-sample shape check rides the SAME aggregate (r16 —
    // previously its own count() action) and refuses IN-PLAN, naming
    // the family, the moment a malformed family's statistic is read
    val agg = cells.join(m2, Seq("g", "v"))
      .groupBy(col("g"))
      .agg(sum(when(col("smp") === sampleA, col("cnt")).otherwise(0L))
          .cast("bigint").as("na"),
        sum(when(col("smp") =!= sampleA, col("cnt")).otherwise(0L))
          .cast("bigint").as("nb"),
        sum(when(col("smp") === sampleA,
          dec(col("cnt")) * dec(col("m2"))).otherwise(lit(0)
          .cast("decimal(38,0)"))).cast("decimal(38,0)").as("r2a"),
        count_distinct(col("smp")).as("kk"),
        max(when(col("smp") === sampleA, 1).otherwise(0)).as("hasA"))
    def guard(c: Column, tpe: String): Column =
      when(col("kk") === 2 && col("hasA") === 1, c)
        .otherwise(raise_error(concat(
          lit("mannWhitney: family "), col("g").cast("string"),
          lit(s" lacks exactly two samples including '$sampleA' — " +
            "filter/relabel first (use kruskalWallis for k > 2)")))
          .cast(tpe))
    agg.join(ties, Seq("g"))
      .select(col("g"), col("kk"), col("hasA"),
        col("na"), col("nb"),
        guard((col("r2a") - dec(col("na")) * (dec(col("na")) + 1))
          .cast("bigint"), "bigint").as("u2"),
        col("n"), col("t3t").cast("bigint").as("t3t"))
      .withColumn("z",
        guard(when(col("na") > 0 && col("nb") > 0 &&
          expr(mwVarGuardSql) > 0, round(expr(mwZFormulaSql), 6))
          .otherwise(lit(null).cast("double")), "double"))
      // the gate multiplies into na/nb too (the anovaFromCells n_j
      // trick — r17): a consumer that projects only the counts would
      // otherwise let Catalyst PRUNE the guarded u2/z columns and a
      // malformed family's nb (the lump of ALL non-A samples) would
      // return silently — the refusal must ride columns that survive
      // any projection that reads a statistic
      .select(col("g").as(famCol),
        (col("na") * guard(lit(1L), "bigint")).cast("bigint").as("na"),
        (col("nb") * guard(lit(1L), "bigint")).cast("bigint").as("nb"),
        col("u2"), col("z"))
  }

  /** Tie-corrected Mann–Whitney variance (×1, in doubles) over the
    * exact integers (na, nb, n, t3t) — the guard and the z share it
    * verbatim with the oracle.
    */
  val mwVarGuardSql: String =
    "CAST(na AS DOUBLE) * nb / 12.0 * ((n + 1) " +
      "- CAST(t3t AS DOUBLE) / (CAST(n AS DOUBLE) * (n - 1)))"

  val mwZFormulaSql: String =
    "(CAST(u2 AS DOUBLE) / 2.0 - CAST(na AS DOUBLE) * nb / 2.0) / " +
      "sqrt(CAST(na AS DOUBLE) * nb / 12.0 * ((n + 1) " +
      "- CAST(t3t AS DOUBLE) / (CAST(n AS DOUBLE) * (n - 1))))"

  /** Per-group GOODMAN–KRUSKAL GAMMA + SOMERS' D (Goodman & Kruskal
    * 1954; Somers 1962) — the ordinal-association family next to
    * [[kendallTauB]], on the SAME joint-cell pair algebra: gamma
    * ignores ALL ties ((C−D)/(C+D) — the "among pairs that rank both
    * ways, how consistently?" reading), Somers' D is the asymmetric
    * regression-flavoured variant that penalizes ties on the
    * DEPENDENT side only (d_yx = (C−D)/(pairs not tied on x)).
    *
    * EXACT: S = 2(C−D) from the cell² self-join (cardinality², never
    * rows²); 2(C+D) = n(n−1) − T_x − T_y + T_xy by inclusion-
    * exclusion over the exact tie masses (T_x = Σt_x(t_x−1), twin
    * for y, T_xy = Σ_cell cnt(cnt−1)); each statistic is ONE double
    * division of two exact integers, rounded 6.
    *
    * @return (groupCol, n, s, gamma, d_yx, d_xy) — each null when
    *         its denominator is zero (all pairs tied the relevant
    *         way)
    */
  def gammaSomers(df: DataFrame, groupCol: String, xCol: String,
                  yCol: String): DataFrame = {
    val cells = df.select(col(groupCol).as("g"),
        col(xCol).cast("long").as("x"), col(yCol).cast("long").as("y"))
      .groupBy(col("g"), col("x"), col("y"))
      .agg(count(lit(1)).as("cnt"))
      .localCheckpoint(true) // self-join + three marginals + n
    def dec(c: Column): Column = c.cast("decimal(38,0)")
    val s = cells.as("a").join(cells.as("b"),
        col("a.g") === col("b.g") &&
          (col("a.x") =!= col("b.x") || col("a.y") =!= col("b.y")))
      .groupBy(col("a.g").as("g"))
      .agg(sum(dec(col("a.cnt")) * dec(col("b.cnt")) *
        signum((col("a.x") - col("b.x")).cast("double")).cast("int") *
        signum((col("a.y") - col("b.y")).cast("double")).cast("int"))
        .cast("decimal(38,0)").as("s"))
    val tx = cells.groupBy(col("g"), col("x"))
      .agg(sum(col("cnt")).as("t"))
      .groupBy(col("g"))
      .agg(sum(dec(col("t")) * (dec(col("t")) - 1)).cast("decimal(38,0)").as("tx"))
    val ty = cells.groupBy(col("g"), col("y"))
      .agg(sum(col("cnt")).as("t"))
      .groupBy(col("g"))
      .agg(sum(dec(col("t")) * (dec(col("t")) - 1)).cast("decimal(38,0)").as("ty"))
    val nt = cells.groupBy(col("g"))
      .agg(sum(col("cnt")).cast("bigint").as("n"),
        sum(dec(col("cnt")) * (dec(col("cnt")) - 1))
          .cast("decimal(38,0)").as("txy"))
    nt.join(s, Seq("g"), "left").join(tx, Seq("g")).join(ty, Seq("g"))
      .select(col("g"), col("n"),
        coalesce(col("s"), lit(0).cast("decimal(38,0)")).as("sd"),
        (dec(col("n")) * (dec(col("n")) - 1) - col("tx") - col("ty")
          + col("txy")).as("cd2"),
        (dec(col("n")) * (dec(col("n")) - 1) - col("tx")).as("notx2"),
        (dec(col("n")) * (dec(col("n")) - 1) - col("ty")).as("noty2"))
      .select(col("g").as(groupCol), col("n"),
        col("sd").cast("bigint").as("s"),
        when(col("cd2") > 0,
          round(col("sd").cast("double") / col("cd2").cast("double"), 6))
          .otherwise(lit(null).cast("double")).as("gamma"),
        when(col("notx2") > 0,
          round(col("sd").cast("double") / col("notx2").cast("double"), 6))
          .otherwise(lit(null).cast("double")).as("d_yx"),
        when(col("noty2") > 0,
          round(col("sd").cast("double") / col("noty2").cast("double"), 6))
          .otherwise(lit(null).cast("double")).as("d_xy"))
  }

  /** Per-family PAGE'S TREND TEST (Page 1963) — the ORDERED
    * alternative within complete blocks: [[friedman]] asks "do the K
    * treatments differ?", Page asks "do they INCREASE along the
    * stated order?" — the blocked sibling of
    * [[jonckheereTerpstra]], strictly more powerful than Friedman
    * under a monotone alternative.
    *
    * EXACT core: within-block DOUBLED midranks from the friedman K²
    * self-join; 2L = Σ_j ord_j · (2R_j) is an exact integer (ord_j =
    * the treatment's 1..K position in `treatmentCol`'s ascending
    * order). z uses the STANDARD no-tie variance
    * Var(L) = n·K²(K+1)(K²−1)/144 (Page's tie correction is not
    * defined in the classical test; ties only DEFLATE |z| here —
    * stated), as ONE double formula of exact integers rounded 6.
    * Friedman's duplicate-cell and incomplete-block refusals apply.
    *
    * @param treatmentCol integral — its ascending order IS the
    *                     hypothesized trend order
    * @return (famCol, k, n_blocks, l2 = 2L, z) — z null for k < 3 or
    *         a single block
    */
  def pageTrend(df: DataFrame, famCol: String, blockCol: String,
                treatmentCol: String, valueCol: String): DataFrame = {
    val rows = df.select(col(famCol).as("g"), col(blockCol).as("b"),
        col(treatmentCol).cast("long").as("trt"),
        col(valueCol).cast("long").as("v"))
      .localCheckpoint(true) // gate subtree + self-join + ord
    val kg = rows.groupBy(col("g"))
      .agg(countDistinct(col("trt")).cast("long").as("k"))
    // dup/completeness refusals IN-PLAN via the shared broadcast gate
    // (r16 — previously two separate count() actions)
    val gate = broadcast(completeBlocksGate(rows, kg, "pageTrend"))
    // treatment order 1..K within each family (dense rank over the
    // family's K-sized distinct-treatment set — model-sized per family)
    val ord = rows.select(col("g"), col("trt")).distinct()
      .withColumn("ord", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("g"))
          .orderBy(col("trt"))).cast("long"))
    // within-block doubled midranks (the friedman K² discipline); the
    // +max(__gate) term keeps the gate referenced past pruning, and
    // the __g carry (r17) threads it into n_blocks too — a
    // counts-only projection would otherwise prune the refusal
    val m2 = rows.join(gate, Seq("g")).as("a").join(rows.as("b"),
        col("a.g") === col("b.g") && col("a.b") === col("b.b"))
      .groupBy(col("a.g").as("g"), col("a.b").as("b"),
        col("a.trt").as("trt"))
      .agg((lit(2) * sum(when(col("b.v") < col("a.v"), 1L).otherwise(0L))
        + sum(when(col("b.v") === col("a.v"), 1L).otherwise(0L))
        + max(col("a.__gate")))
        .cast("long").as("m2"),
        max(col("a.__gate")).as("__g"))
    def dcm(c: Column): Column = c.cast("decimal(38,0)")
    val agg = m2.join(ord, Seq("g", "trt"))
      .groupBy(col("g"))
      .agg(sum(dcm(col("ord")) * dcm(col("m2")))
          .cast("decimal(38,0)").as("l2"),
        (count_distinct(col("b")) * max(col("__g")))
          .cast("bigint").as("n_blocks"))
    agg.join(broadcast(kg), Seq("g"))
      .select(col("g").as(famCol), col("k"),
        col("n_blocks"), col("l2").cast("bigint").as("l2"))
      .withColumn("z",
        when(col("k") >= 3 && col("n_blocks") >= 2,
          round(expr(pageZFormulaSql), 6))
          .otherwise(lit(null).cast("double")))
  }

  /** Page z from the exact integers (l2 = 2L, n_blocks, k) with the
    * classical no-tie variance — shared verbatim with the oracle
    * (identical parse ⇒ identical IEEE evaluation).
    */
  val pageZFormulaSql: String =
    "(CAST(l2 AS DOUBLE) - CAST(n_blocks AS DOUBLE) * k * (k + 1) " +
      "* (k + 1) / 2.0) / " +
      "(2.0 * sqrt(CAST(n_blocks AS DOUBLE) * k * k * (k + 1) " +
      "* (k * k - 1) / 144.0))"

  /** Per-FAMILY KRUSKAL–WALLIS H test — the K-sample non-parametric
    * one-way analysis of variance on ranks (Kruskal & Wallis 1952):
    * within each family, are the `sampleCol` populations' locations
    * equal? The rank-based sibling of the parametric one-way ANOVA
    * ([[GroupTests.anovaOneWay]]) — outlier-immune and
    * distribution-free, the right default on heavy-tailed revenue
    * columns.
    *
    * EXACT: pooled-within-family DOUBLED midranks off the shared
    * count-table machinery ([[cumFromCounts]] — value-cardinality,
    * never a row-scale window); per-sample 2·R_j = Σ cnt·m2 is an
    * exact DECIMAL sum, and the rank-square term Σ_j R_j²/n_j enters
    * as Σ_j ⌊(2R_j)²/n_j⌋ — each term ONE exact integral division
    * FLOORED AT UNIT SCALE (the q152 ppm discipline: Spark DIV ==
    * DuckDB HUGEINT //; the floor loses < 1 per sample on ~10¹⁶
    * values, below double resolution, and identically in both
    * engines), so the sum is an order-free exact integer. H with the
    * standard tie correction 1 − Σ(t³−t)/(n³−n) is the ONE double
    * formula, rounded to 6.
    *
    * Magnitude contract: ⌊(2R_j)²/n_j⌋ ≤ n_j(2n+1)² must fit a
    * BIGINT, so families are capped at `maxFamilyN` rows (default
    * 1.3M — n_j(2n+1)² < 2^63 there); larger families REFUSE loudly
    * (a silent decimal overflow would null the statistic).
    *
    * @return (famCol, k, n, rsq_sum, t3t, h) per family — h null
    *         when every value in the family is tied (correction 0)
    */
  def kruskalWallis(df: DataFrame, famCol: String, sampleCol: String,
                    valueCol: String,
                    maxFamilyN: Long = 1300000L): DataFrame =
    kruskalWallisFromCells(
      df.select(col(famCol).as("g"),
          col(sampleCol).as("smp"), col(valueCol).cast("long").as("v"))
        .groupBy(col("g"), col("smp"), col("v"))
        .agg(count(lit(1)).as("cnt")),
      famCol, maxFamilyN)

  /** [[kruskalWallis]] from a pre-aggregated (g, smp, v, cnt) count
    * table — the streaming-state form
    * ([[graft.streaming.StreamGroupTests]]): the per-(family, sample,
    * value) count table is the additive sufficient statistic of the
    * whole K-sample battery.
    */
  private[graft] def kruskalWallisFromCells(cellsIn: DataFrame,
                                            famCol: String,
                                            maxFamilyN: Long = 1300000L)
      : DataFrame = {
    val cells = cellsIn
      .localCheckpoint(true) // pooled rank pass + midrank join + sizes
    val pooled = cells.groupBy(col("g"), col("v"))
      .agg(sum(col("cnt")).as("cnt"))
    def dcm(c: Column): Column = c.cast("decimal(38,0)")
    // family sizes + tie masses off the pooled table; fam-cardinality
    val fam = pooled.groupBy(col("g"))
      .agg(sum(col("cnt")).cast("bigint").as("n"),
        sum(dcm(col("cnt")) * dcm(col("cnt")) * dcm(col("cnt"))
          - dcm(col("cnt"))).cast("decimal(38,0)").as("t3t"))
    val m2 = cumFromCounts(pooled, "v")
      .select(col("g"), col("v"),
        (lit(2) * col("below") + col("cnt") + lit(1)).cast("long").as("m2"))
    val perSample = cells.join(m2, Seq("g", "v"))
      .groupBy(col("g"), col("smp"))
      .agg(sum(col("cnt")).cast("long").as("n_j"),
        sum(dcm(col("cnt")) * dcm(col("m2"))).cast("decimal(38,0)").as("r2"))
    val terms = perSample
      .select(col("g"),
        expr("CAST(r2 * r2 AS DECIMAL(38,0)) DIV n_j").as("term"))
      .groupBy(col("g"))
      .agg(count(lit(1)).cast("bigint").as("k"),
        sum(col("term")).cast("decimal(38,0)").as("rsq_sum"))
    // maxFamilyN refusal IN-PLAN (r16 — previously a localCheckpoint
    // + its own collect() action): a too-big family raises the moment
    // its rank-square sum is read, naming the family
    def guard(c: Column, tpe: String): Column =
      when(col("n") <= maxFamilyN, c)
        .otherwise(raise_error(concat(
          lit("kruskalWallis: family "), col("g").cast("string"),
          lit(s" exceeds maxFamilyN=$maxFamilyN rows — the exact " +
            "rank-square term n_j(2n+1)^2 would overflow BIGINT; " +
            "split the family or coarsen the value units")))
          .cast(tpe))
    terms.join(fam, Seq("g"))
      .select(col("g").as(famCol), col("k"), col("n"),
        guard(col("rsq_sum").cast("bigint"), "bigint").as("rsq_sum"),
        guard(col("t3t").cast("bigint"), "bigint").as("t3t"),
        guard(when(dcm(col("n")) * dcm(col("n")) * dcm(col("n"))
            - dcm(col("n")) > col("t3t"),
          round(expr(GroupTests.kwHFormulaSql), 6))
          .otherwise(lit(null).cast("double")), "double").as("h"))
  }

  /** SQL text of the tie-corrected variance of the (undoubled)
    * Kendall S statistic — Kendall 1970 §4 / the Hollander–Wolfe
    * Jonckheere–Terpstra normal approximation — from the exact
    * integer marginal tie sums (t over pooled values, u over sample
    * sizes). Shared verbatim between [[jonckheereTerpstra]] and its
    * oracle; the operator's s column is DOUBLED (2(C−D), the
    * [[kendallTauB]] convention), so z divides by 2·sqrt(var).
    */
  val jtVarFormulaSql: String =
    "((CAST(n AS DOUBLE) * (n - 1) * (2 * n + 5) " +
      "- CAST(t25 AS DOUBLE) - CAST(u25 AS DOUBLE)) / 18.0 " +
      "+ CAST(t3 AS DOUBLE) * CAST(u3 AS DOUBLE) / " +
      "(9.0 * CAST(n AS DOUBLE) * (n - 1) * (n - 2)) " +
      "+ CAST(t2 AS DOUBLE) * CAST(u2 AS DOUBLE) / " +
      "(2.0 * CAST(n AS DOUBLE) * (n - 1)))"

  /** Per-FAMILY JONCKHEERE–TERPSTRA trend test (Jonckheere 1954,
    * Terpstra 1952) — the ORDERED-alternative K-sample test: where
    * [[kruskalWallis]] asks "do these K populations differ at all?",
    * JT asks "do they INCREASE along the stated sample order?" —
    * strictly more power when the alternative is a monotone dose/
    * tier/priority trend. Equivalent to Kendall's S between the
    * sample order and the value ([[kendallTauB]] without the τ
    * normalization), tested with the full tie-corrected S variance.
    *
    * EXACT without the cell² self-join (values here are UNBOUNDED
    * cardinality, where kendallTauB's joint-cell join would explode):
    * the pooled value axis is FILLED across the K samples (a
    * K-bounded expansion), per-sample cumulative-below counts come
    * from the shared [[cumFromCounts]] machinery on the composite
    * (family, sample) key, and the cross-sample prefix
    * Σ_{i<j}(below_i − above_i) is a window over the (family, value)
    * partition — AT MOST K ROWS per partition at any corpus scale.
    * S = 2·Σ cells cnt_j·Σ_{i<j}(below_i(v) − above_i(v)) exact
    * DECIMAL; all five tie sums exact integers; z is the ONE shared
    * double formula ([[jtVarFormulaSql]]) rounded 6.
    *
    * @param sampleOrderCol integral — the hypothesized ORDER of the
    *                       samples (dose level, priority tier)
    * @return (famCol, k, n, s, z) — s = 2(C−D) > 0 means values
    *         increase with sample order; z null for n < 3 or zero
    *         variance
    */
  def jonckheereTerpstra(df: DataFrame, famCol: String,
                         sampleOrderCol: String,
                         valueCol: String): DataFrame =
    jtFromCells(
      df.select(col(famCol).as("fam"),
          col(sampleOrderCol).cast("long").as("smp"),
          col(valueCol).cast("long").as("v"))
        .groupBy(col("fam"), col("smp"), col("v"))
        .agg(count(lit(1)).as("cnt")),
      famCol)

  /** [[jonckheereTerpstra]] from a pre-aggregated (fam, smp, v, cnt)
    * count table — the streaming-state form: the SAME cell table
    * [[graft.streaming.StreamGroupTests]] already holds for the
    * KW/ANOVA/Mood battery serves the ordered-trend test too
    * (sampleCol must be integral there).
    */
  private[graft] def jtFromCells(cellsIn: DataFrame,
                                 famCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val cells = cellsIn
      .localCheckpoint(true) // axis fill + marginals
    // fill the pooled value axis per sample so below_i(v) exists at
    // every v any sample hits — a K-bounded expansion
    val axis = cells.select(col("fam"), col("v")).distinct()
    val smps = cells.select(col("fam"), col("smp")).distinct()
    // composite (fam, smp) key for the single-column cumulation
    // machinery, made INJECTIVE for arbitrary string families by
    // LENGTH-PREFIXING the fam segment: len(fam) \u2295 fam \u2295 smp parses
    // back uniquely even when fam itself CONTAINS the separator (the
    // first separator ends the digit-only length prefix, which then
    // fixes fam's extent; smp is integral -- digits only -- so the
    // remainder is unambiguous). A plain fam \u2295 smp concat could merge
    // distinct (family, sample) groups for such families.
    val filled = axis.join(smps, Seq("fam"))
      .join(cells, Seq("fam", "smp", "v"), "left")
      .na.fill(0L, Seq("cnt"))
      .withColumn("g", compositeKey(col("fam"), col("smp")))
    // (fam, smp) CARRY through the fused cumulation (r16): no
    // join-back onto filled, so filled is consumed exactly once and
    // needs no pin of its own — the cumulation pins it internally.
    // The fill is axis × samples by construction — always past the
    // local-route crossover — so it goes straight to the distributed
    // kernel with no probe (measured: the probe pin cost q165 +20%;
    // g needs no null filter: concat_ws is never null)
    val cum = cumDistributed(
      filled.select(col("g"), col("v"), col("cnt"), col("fam"),
        col("smp")), "v", None, Seq("fam", "smp"))
    val nsmp = cells.groupBy(col("fam"), col("smp"))
      .agg(sum(col("cnt")).cast("long").as("n_i"))
    def dcm(c: Column): Column = c.cast("decimal(38,0)")
    val ab = cum
      .join(nsmp, Seq("fam", "smp"))
      .select(col("fam"), col("smp"), col("v"), col("cnt"), col("below"),
        (col("n_i") - col("below") - col("cnt")).as("above"))
    // Σ_{i<j}(below_i − above_i) at each (fam, v): a window whose
    // partitions hold AT MOST K rows (one per sample)
    val w = Window.partitionBy(col("fam"), col("v")).orderBy(col("smp"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val low = ab.withColumn("lowdiff",
      sum(col("below") - col("above")).over(w)
        - (col("below") - col("above")))
    val sAgg = low.groupBy(col("fam"))
      .agg((lit(2).cast("decimal(38,0)")
        * sum(dcm(col("cnt")) * dcm(col("lowdiff"))))
        .cast("decimal(38,0)").as("s"))
    // marginal tie sums: t over pooled values, u over sample sizes
    val tm = cells.groupBy(col("fam"), col("v"))
      .agg(sum(col("cnt")).as("t"))
      .groupBy(col("fam"))
      .agg(sum(col("t")).cast("bigint").as("n"),
        sum(dcm(col("t")) * (dcm(col("t")) - 1)).cast("decimal(38,0)").as("t2"),
        sum(dcm(col("t")) * (dcm(col("t")) - 1)
          * (dcm(col("t")) * 2 + 5)).cast("decimal(38,0)").as("t25"),
        sum(dcm(col("t")) * (dcm(col("t")) - 1) * (dcm(col("t")) - 2))
          .cast("decimal(38,0)").as("t3"))
    val um = nsmp.groupBy(col("fam"))
      .agg(count(lit(1)).cast("bigint").as("k"),
        sum(dcm(col("n_i")) * (dcm(col("n_i")) - 1))
          .cast("decimal(38,0)").as("u2"),
        sum(dcm(col("n_i")) * (dcm(col("n_i")) - 1)
          * (dcm(col("n_i")) * 2 + 5)).cast("decimal(38,0)").as("u25"),
        sum(dcm(col("n_i")) * (dcm(col("n_i")) - 1) * (dcm(col("n_i")) - 2))
          .cast("decimal(38,0)").as("u3"))
    sAgg.join(tm, Seq("fam")).join(um, Seq("fam"))
      .select(col("fam").as(famCol), col("k"), col("n"),
        col("s").cast("bigint").as("s"),
        when(col("n") >= 3 && expr(jtVarFormulaSql) > 0,
          round(col("s").cast("double")
            / (lit(2.0) * sqrt(expr(jtVarFormulaSql))), 6))
          .otherwise(lit(null).cast("double")).as("z"))
  }

  /** Per-FAMILY FRIEDMAN TEST (Friedman 1937, midrank tie form) —
    * the K-treatment repeated-measures rank test: within each
    * complete BLOCK (a month, a subject, a store) rank the K
    * treatments, then ask whether any treatment ranks consistently
    * high/low across blocks. The blocked sibling of
    * [[kruskalWallis]]: blocking removes the between-block variance
    * KW would dilute power with.
    *
    * FULLY EXACT — no floor scaling needed: with DOUBLED midranks
    * m2 = 2·below + t + 1 from a WITHIN-BLOCK self-join (pair volume
    * K² per block, never corpus-bounded — the q149 cell discipline),
    * the tie-corrected statistic is
    * χ² = (K−1)·Σ_j (2R_j − n(K+1))² / (Σ m2² − nK(K+1)²)
    * — every quantity an exact integer (the /4's cancel), ONE double
    * division rounded 6.
    *
    * REFUSALS: duplicate (block, treatment) observations (aggregate
    * first — the test is defined on one value per cell) and
    * incomplete blocks (a missing treatment shifts every midrank;
    * filter to complete blocks explicitly — the q164 contract query
    * shows the idiom).
    *
    * @return (famCol, k, n_blocks, num, den, chi2) — chi2 null when
    *         every block is fully tied (den = 0)
    */
  def friedman(df: DataFrame, famCol: String, blockCol: String,
               treatmentCol: String, valueCol: String): DataFrame = {
    val rows = df.select(col(famCol).as("g"), col(blockCol).as("b"),
        col(treatmentCol).as("trt"), col(valueCol).cast("long").as("v"))
      .localCheckpoint(true) // gate subtree + self-join + marginals
    val kg = rows.groupBy(col("g"))
      .agg(countDistinct(col("trt")).cast("long").as("k"))
    // duplicate-cell and incomplete-block refusals IN-PLAN (r16 —
    // previously two separate count() actions): violations aggregate
    // to FAMILY cardinality, gate through a broadcast build side
    // (materializes before any self-join task), and name the family
    val gate = broadcast(completeBlocksGate(rows, kg, "friedman"))
    // within-block doubled midranks: co-partitioned self-join on
    // (g, b), K² pairs per block; the +max(__gate) term (always +1
    // for admissible rows) keeps the gate REFERENCED past pruning,
    // and the separate __g carry (r17) threads it into the COUNT
    // column too — a consumer projecting only n_blocks would
    // otherwise let Catalyst prune every m2-derived aggregate and
    // with it the refusal
    val m2 = rows.join(gate, Seq("g")).as("a").join(rows.as("b"),
        col("a.g") === col("b.g") && col("a.b") === col("b.b"))
      .groupBy(col("a.g").as("g"), col("a.b").as("b"),
        col("a.trt").as("trt"))
      .agg((lit(2) * sum(when(col("b.v") < col("a.v"), 1L).otherwise(0L))
        + sum(when(col("b.v") === col("a.v"), 1L).otherwise(0L))
        + max(col("a.__gate")))
        .cast("long").as("m2"),
        max(col("a.__gate")).as("__g"))
    def dcm(c: Column): Column = c.cast("decimal(38,0)")
    val perTrt = m2.groupBy(col("g"), col("trt"))
      .agg(sum(col("m2")).cast("decimal(38,0)").as("r2"),
        // == count(*): __g is 1 for every admissible row, and a
        // violating family raises here even under a counts-only
        // projection
        sum(col("__g")).cast("long").as("n"),
        sum(dcm(col("m2")) * dcm(col("m2"))).cast("decimal(38,0)").as("m2sq"))
    val agg = perTrt.join(broadcast(kg), Seq("g"))
      .select(col("g"), col("k"), col("n"),
        ((col("r2") - dcm(col("n")) * (col("k") + 1))
          * (col("r2") - dcm(col("n")) * (col("k") + 1)))
          .cast("decimal(38,0)").as("dev2"),
        col("m2sq"))
      .groupBy(col("g"), col("k"))
      .agg(max(col("n")).as("n_blocks"),
        ((col("k") - 1).cast("decimal(38,0)") * sum(col("dev2")))
          .cast("decimal(38,0)").as("num"),
        (sum(col("m2sq")) - max(col("n")).cast("decimal(38,0)")
          * dcm(col("k")) * (col("k") + 1) * (col("k") + 1))
          .cast("decimal(38,0)").as("den"))
    agg.select(col("g").as(famCol), col("k"),
      col("n_blocks").cast("bigint").as("n_blocks"),
      col("num").cast("bigint").as("num"),
      col("den").cast("bigint").as("den"),
      when(col("den") > 0,
        round(col("num").cast("double") / col("den").cast("double"), 6))
        .otherwise(lit(null).cast("double")).as("chi2"))
  }

  /** (g, __gate) — the complete-blocks admission gate shared by the
    * blocked-design family ([[friedman]] / [[pageTrend]] /
    * [[graft.operators.GroupTests.cochranQ]]): __gate is 1 for a
    * family with no duplicate (block, treatment) cells and no
    * incomplete blocks; otherwise an in-plan raise_error naming the
    * family and the violation. Violations aggregate to FAMILY
    * cardinality (a model-sized broadcast build side that
    * materializes before any probe task — the anovaFromCells gate
    * convention); callers thread __gate into one aggregate term so
    * column pruning keeps the raise_error alive.
    */
  private[operators] def completeBlocksGate(rows: DataFrame,
                                            kg: DataFrame,
                                            op: String): DataFrame = {
    val cellCounts = rows.groupBy(col("g"), col("b"), col("trt"))
      .agg(count(lit(1)).as("c"))
    val blockStats = cellCounts.groupBy(col("g"), col("b"))
      .agg(count(lit(1)).as("cells"), max(col("c")).as("maxc"))
    blockStats.join(kg, Seq("g"))
      .groupBy(col("g"))
      .agg(sum(when(col("maxc") > 1, 1L).otherwise(0L)).as("__dups"),
        sum(when(col("cells") =!= col("k"), 1L).otherwise(0L)).as("__inc"))
      .select(col("g"),
        when(col("__dups") === 0 && col("__inc") === 0, lit(1L))
          .otherwise(raise_error(concat(lit(s"$op: family "),
            col("g").cast("string"),
            when(col("__dups") > 0,
              lit(" has (block, treatment) cells with multiple " +
                "observations — aggregate to one value per cell first"))
              .otherwise(lit(" has incomplete blocks (missing " +
                "treatments shift every midrank) — filter to " +
                "complete blocks first"))))
            .cast("bigint")).as("__gate"))
  }

  /** Per-family KENDALL'S W — the COEFFICIENT OF CONCORDANCE
    * (Kendall & Babington Smith 1939): how much do the n_blocks
    * "judges" AGREE on their ranking of the K treatments? W ∈ [0,1]
    * is [[friedman]]'s chi-square rescaled by its maximum,
    * W = χ²_F / (n_blocks·(K−1)) — the standard inter-rater
    * agreement readout (1 = every block ranks identically, 0 = no
    * agreement beyond chance), tie-corrected because the underlying
    * Friedman algebra already is.
    *
    * EXACT: W = num / (den·n_blocks·(K−1)) — one double division of
    * two exact integers, rounded 6; friedman's duplicate-cell and
    * incomplete-block refusals apply verbatim (shared machinery).
    *
    * @return (famCol, k, n_blocks, num, den, w) — w null when every
    *         block is fully tied (den = 0)
    */
  def kendallW(df: DataFrame, famCol: String, blockCol: String,
               treatmentCol: String, valueCol: String): DataFrame =
    friedman(df, famCol, blockCol, treatmentCol, valueCol)
      .select(col(famCol), col("k"), col("n_blocks"), col("num"),
        col("den"),
        when(col("den") > 0 && col("k") > 1,
          // den·n_blocks·(K−1) in DECIMAL(38,0), not BIGINT: under
          // non-ANSI Spark a BIGINT product can silently wrap for
          // very large families, diverging from the oracle's HUGEINT
          // product (friedman's dcm convention)
          round(col("num").cast("double") /
            (col("den").cast("decimal(38,0)") * col("n_blocks")
              * (col("k") - 1)).cast("double"), 6))
          .otherwise(lit(null).cast("double")).as("w"))

  /** Per-group Spearman ρ between two integral columns (scale
    * decimals to integer units first — the cents convention).
    *
    * @return (groupCol, n, rho) — rho null for degenerate groups
    *         (constant x or y, or a single row), rounded to `scale`
    */
  def spearman(df: DataFrame, groupCol: String, xCol: String,
               yCol: String, scale: Int = 6): DataFrame = {
    val rows = df.select(col(groupCol).as("g"),
      col(xCol).cast("long").as("x"), col(yCol).cast("long").as("y"))
      .localCheckpoint(true) // feeds both midrank passes and the join
    val mx = midrank2(rows, "x").withColumnRenamed("m2", "rx")
    val my = midrank2(rows, "y").withColumnRenamed("m2", "ry")
    val joined = rows
      .join(mx, Seq("g", "x"))
      .join(my, Seq("g", "y"))
    def d(c: Column): Column = c.cast("decimal(38,0)")
    val agg = joined.groupBy(col("g"))
      .agg(count(lit(1)).cast("bigint").as("n"),
        sum(d(col("rx"))).as("sx"), sum(d(col("ry"))).as("sy"),
        sum(d(col("rx")) * d(col("ry"))).as("sxy"),
        sum(d(col("rx")) * d(col("rx"))).as("sxx"),
        sum(d(col("ry")) * d(col("ry"))).as("syy"))
    val num = (d(col("n")) * col("sxy") - col("sx") * col("sy"))
      .cast("decimal(38,0)")
    val varx = (d(col("n")) * col("sxx") - col("sx") * col("sx"))
      .cast("decimal(38,0)")
    val vary = (d(col("n")) * col("syy") - col("sy") * col("sy"))
      .cast("decimal(38,0)")
    agg.select(col("g").as(groupCol), col("n"),
      when(varx > 0 && vary > 0,
        round(num.cast("double") /
          sqrt(varx.cast("double") * vary.cast("double")), scale))
        .otherwise(lit(null).cast("double")).as("rho"))
  }
}
