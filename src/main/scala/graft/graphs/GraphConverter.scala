package graft.graphs

import graft.tracking.Cols
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Frame → graph tensors (G1-G10), Spark-first.
  *
  * Reference: `unravel/soccer/graphs/graph_converter.py` runs a NumPy
  * callback per frame (`map_groups`). Here:
  *  - node features are row-local `Column`s (Features.scala) with the
  *    per-frame ball position supplied by a window aggregate (no join);
  *  - the adjacency predicate and edge features live on a within-frame
  *    pair self-join;
  *  - matrices are assembled by direct-to-tensor
  *    `TypedImperativeAggregate`s ([[graft.functions.OrderedTensorAgg]]),
  *    keyed by an explicit node index that replicates the reference's
  *    sort
  *    (`graph_converter.py:214-222`): possession players, then
  *    defenders, then ball, each by object id;
  *  - padding (G8) regenerates missing rows relationally — the
  *    reference's driver-side `iter_rows` loop disappears.
  */
object GraphConverter {
  import Cols._

  private val frameKeys = Seq(GameId, PeriodId, FrameId)
  private def wFrame = Window.partitionBy(frameKeys.map(col): _*)

  /** Node-order value of the reference sort expression:
    * ball → 2, possession player → -1, defender → 0. */
  private def sortValue: Column = {
    val isBall = col(TeamId) === Ball
    val owning = (col(BallOwningTeamId) === col(TeamId)) && !isBall
    isBall.cast("int") * 2 - owning.cast("int")
  }

  /** Adds `node_idx` (0-based position in the frame's node order).
    * Idempotent: a pre-indexed input passes through, so pipelines that
    * index once (graphFrames) don't pay the window twice. */
  def withNodeIndex(df: DataFrame): DataFrame =
    if (df.columns.contains("node_idx")) df
    else {
      val w = Window.partitionBy(frameKeys.map(col): _*)
        .orderBy(sortValue.asc, col(ObjectId).asc)
      df.withColumn("node_idx", row_number().over(w) - 1)
    }

  /** G9: keep frames with exactly 3 distinct team ids (2 teams + ball)
    * — one window pass, no join (`graph_converter.py:224-238`). */
  def removeIncompleteFrames(df: DataFrame): DataFrame =
    df.withColumn("__nteams", size(collect_set(col(TeamId)).over(wFrame)))
      .filter(col("__nteams") === 3)
      .drop("__nteams")

  /** G8: pad every frame to 11 players per team + 1 ball, then keep only
    * frames that reach exactly 11/11/1 (`graph_converter.py:240-440`).
    * Padding rows are regenerated relationally with the reference's
    * dtype defaults (`utils/utils.py:81-95`): "" for strings, 0 for
    * numerics, false for booleans. */
  def padFrames(
      df: DataFrame,
      labelCol: String = Label,
      graphIdCol: String = GraphId): DataFrame = {
    val keepCols = Seq(Timestamp, BallState, labelCol, graphIdCol).filter(df.columns.contains)
    val groupCols = frameKeys ++ Seq(TeamId, BallOwningTeamId)

    // ONE aggregate drives all padding decisions: per-(frame, team)
    // deficits AND ball-less frames both come out of `counts`, so the
    // input is scanned once here instead of three times (the previous
    // two dropDuplicates + anti-join re-scanned the full input just to
    // find frames with no ball row)
    val counts = df.groupBy(groupCols.map(col): _*)
      .agg(count(lit(1)).as("__cnt"),
        keepCols.map(c => first(col(c)).as(c)): _*)
      .withColumn("__target", when(col(TeamId) === Ball, 1).otherwise(11))
      .withColumn("__repeats", col("__target") - col("__cnt"))

    val playerPad = counts.filter(col("__repeats") > 0)
      .withColumn("__seq", explode(sequence(lit(1), col("__repeats").cast("int"))))
      .drop("__cnt", "__target", "__repeats", "__seq")

    // frames with no ball row at all get one synthetic ball row
    val ballPad = counts
      .groupBy(frameKeys.map(col): _*)
      .agg(
        (max((col(TeamId) === Ball).cast("int")) === 1).as("__hasBall"),
        (Seq(first(col(BallOwningTeamId)).as(BallOwningTeamId)) ++
          keepCols.map(c => first(col(c)).as(c))): _*)
      .filter(!col("__hasBall"))
      .drop("__hasBall")
      .withColumn(TeamId, lit(Ball))

    val pads = playerPad.unionByName(ballPad, allowMissingColumns = true)

    // fill remaining columns with dtype defaults
    val defaults: Map[String, Column] = df.schema.fields.map { f =>
      f.name -> (f.dataType.typeName match {
        case "boolean" => lit(false)
        case "double" | "float" => lit(0.0).cast(f.dataType)
        case "integer" | "long" => lit(0).cast(f.dataType)
        case "string" => lit("")
        case _ => lit(null).cast(f.dataType)
      })
    }.toMap
    val positioned = pads.withColumn(PositionName,
      when(col(TeamId) === Ball, lit(Ball)).otherwise(lit("")))
    val completed = df.columns.foldLeft(positioned) { (d, c) =>
      if (d.columns.contains(c)) d else d.withColumn(c, defaults(c))
    }.select(df.columns.map(col): _*)

    val padded = df.unionByName(completed)

    // completeness: exactly 1 ball, 11 owning, 11 defending
    val isBall = col(TeamId) === Ball
    val isOwning = col(TeamId) === col(BallOwningTeamId)
    padded
      .select(col("*"),
        sum(isBall.cast("int")).over(wFrame).as("__nb"),
        sum(isOwning.cast("int")).over(wFrame).as("__no"),
        sum((!isBall && !isOwning).cast("int")).over(wFrame).as("__nd"))
      .filter(col("__nb") === 1 && col("__no") === 11 && col("__nd") === 11)
      .drop("__nb", "__no", "__nd")
  }

  /** O5 frame sampling (`graph_converter.py:206-212`). */
  def sample(df: DataFrame, rate: Double): DataFrame =
    df.filter(col(FrameId) % (1.0 / rate) === 0)

  /** G10: fail fast if any frame carries >1 graph_id or label
    * (`graph_converter.py:610-623`). */
  def validateIntegrity(df: DataFrame, cols: Seq[String]): Unit = {
    val present = cols.filter(df.columns.contains)
    if (present.nonEmpty) {
      val bad = df.groupBy(frameKeys.map(col): _*)
        .agg(present.map(c => countDistinct(col(c)).as(c)).head,
          present.map(c => countDistinct(col(c)).as(c)).tail: _*)
        .filter(present.map(c => col(c) > 1).reduce(_ || _))
        .limit(1).count()
      require(bad == 0,
        s"graph integrity violation: a frame has multiple values for ${present.mkString(",")}")
    }
  }

  /** Per-node features: adds the ball-position helper columns and
    * `x_features` ARRAY<DOUBLE> (+ `node_idx`). */
  def withNodeFeatures(
      df: DataFrame,
      settings: GraphSettings,
      features: Seq[Features.NodeFeature] = Nil): DataFrame = {
    val feats = if (features.nonEmpty) features else Features.defaultNodeFeatures(settings)
    val isBall = col(TeamId) === Ball
    // ball position default (0,0,0) when absent (features/utils.py:235-242)
    val base = df
      .select(col("*"),
        coalesce(max(when(isBall, nanvl(col(X), lit(1e-10)))).over(wFrame), lit(0.0)).as("__ball_x"),
        coalesce(max(when(isBall, nanvl(col(Y), lit(1e-10)))).over(wFrame), lit(0.0)).as("__ball_y"),
        coalesce(max(when(isBall, nanvl(col(Z), lit(1e-10)))).over(wFrame), lit(0.0)).as("__ball_z"))
    withNodeIndex(base)
      .withColumn("x_features", array(Features.nodeFeatureColumns(settings, feats): _*))
      .drop("__ball_x", "__ball_y", "__ball_z")
  }

  /** G6 global/graph features (`node_features_pl.py:6-16`,
    * `graph_converter.py:643-667`): append constant-per-frame columns
    * to each node's feature array — on the ball row only (zeros
    * elsewhere, `type="ball"`) or on every row (`type="all"`). Call
    * [[validateGlobalConstancy]] first to replicate the reference's
    * multiple-values error. */
  def withGlobalFeatures(
      df: DataFrame,
      globalCols: Seq[String],
      globalType: String = "ball"): DataFrame = {
    require(Set("ball", "all")(globalType),
      "global_features_type should be either of {ball, all}")
    val isBall = col(TeamId) === Ball
    val globals = array(globalCols.map(c => col(c).cast("double")): _*)
    val zeros = array(globalCols.map(_ => lit(0.0)): _*)
    val extra = globalType match {
      case "ball" => when(isBall, globals).otherwise(zeros)
      case "all" => globals
    }
    df.withColumn("x_features", concat(col("x_features"), extra))
  }

  /** Fail fast when a would-be global feature varies within a frame
    * (`graph_converter.py:643-652`). */
  def validateGlobalConstancy(df: DataFrame, globalCols: Seq[String]): Unit = {
    val bad = df.groupBy(frameKeys.map(col): _*)
      .agg(globalCols.map(c => countDistinct(col(c)).as(c)).head,
        globalCols.map(c => countDistinct(col(c)).as(c)).tail: _*)
      .filter(globalCols.map(c => col(c) > 1).reduce(_ || _))
      .limit(1).count()
    require(bad == 0,
      s"global_feature_cols contains multiple different values per frame for ${globalCols.mkString(",")}")
  }

  /** Within-frame pair table with the adjacency value `a` and
    * `e_features` ARRAY<DOUBLE>; `i_*` is the matrix row node, `j_*`
    * the column node. */
  def pairs(
      df: DataFrame,
      settings: GraphSettings,
      features: Seq[Features.EdgeFeature] = Nil): DataFrame = {
    import GraphSettings._
    val feats = if (features.nonEmpty) features else Features.defaultEdgeFeatures(settings)
    // when the node-index window actually runs here, add an explicit
    // frame-key exchange below the self-join: both pair sides then
    // reuse ONE execution of the upstream+window stage instead of
    // re-running it per side (stage reuse needs an exchange boundary —
    // the PressingIntensity pattern). A pre-indexed input (the bucketed
    // graphFrames path) skips it, keeping that plan zero-exchange.
    val indexed =
      if (df.columns.contains("node_idx")) withNodeIndex(df)
      else withNodeIndex(df).repartition(frameKeys.map(col): _*)
    val cols = Seq(ObjectId, TeamId, BallOwningTeamId, IsBallCarrier,
      X, Y, Z, Vx, Vy, Vz, Speed, "node_idx")
    def sided(prefix: String): DataFrame =
      indexed.select(frameKeys.map(col) ++ cols.map(c => col(c).as(s"${prefix}_$c")): _*)
    val p0 = sided("i").join(sided("j"), frameKeys)
    // Delaunay needs the per-frame edge table (a geometric, not
    // pairwise-predicate, relation): left-join it onto the dense pair
    // table so absent pairs keep a=0 for the matrix assembly. One
    // extra (frame, i, j)-keyed shuffle, edge table is ~3 rows per
    // player per frame.
    val p = if (settings.adjacencyMatrixType == GraphSettings.Delaunay)
      p0.join(
        graft.graphs.Delaunay.edges(df).withColumn("__delaunay", lit(true)),
        frameKeys ++ Seq(s"i_$ObjectId", s"j_$ObjectId"), "left")
    else p0

    val iTeam = col(s"i_$TeamId"); val jTeam = col(s"j_$TeamId")
    val iBall = iTeam === Ball; val jBall = jTeam === Ball
    val owning = col(s"i_$BallOwningTeamId")
    val base: Column = settings.adjacencyMatrixType match {
      case Dense => lit(true)
      case DenseAp => (iTeam === owning) && (jTeam === owning)
      case DenseDp =>
        val iDef = !iBall && iTeam =!= owning
        val jDef = !jBall && jTeam =!= owning
        iDef && jDef
      case SplitByTeam => iTeam === jTeam
      // legacy-reference Delaunay (adjacency_matrix.py:60-124):
      // triangle edges only, no player self-loops, ball via connect
      case Delaunay => coalesce(col("__delaunay"), lit(false))
      case other => throw new NotImplementedError(s"$other matrix not implemented for Soccer...")
    }
    val connected: Column = settings.adjacencyMatrixConnectType match {
      // Legacy delaunay keeps the ball self-loop OFF: its `b` block is
      // `1 if self_loop_ball else 0` with self_loop_ball=False
      // (adjacency_matrix.py:104-124), unlike dense's b=[[1]] — so the
      // ball connects to every player (XOR) but not to itself.
      case ConnectBall if settings.adjacencyMatrixType == Delaunay =>
        base || (iBall =!= jBall)
      case ConnectBall => base || iBall || jBall
      case ConnectBallCarrier =>
        base || (col(s"i_$IsBallCarrier") && jBall) || (iBall && col(s"j_$IsBallCarrier"))
      case ConnectNone => base
    }
    p.withColumn("a", connected.cast("int"))
      .withColumn("e_features", array(Features.edgeFeatureColumns(settings, feats): _*))
      .drop("__delaunay")
  }

  /** Full conversion to the nested per-frame graph schema
    * (FIXTURES.md §6): keys, a, x, e, object_ids, graph_id, label,
    * ball_owning_team_id. Shapes live in the array type — the
    * reference's `*_shape_*` columns are recoverable via `size()`. */
  def graphFrames(
      df: DataFrame,
      settings: GraphSettings,
      labelCol: String = Label,
      graphIdCol: String = GraphId): DataFrame = {
    // Fast path (optimization round 17): the whole conversion — padding,
    // completeness, node order, node features, adjacency, edge features
    // — is frame-local, so ONE TypedImperativeAggregate keyed on the
    // frame does it in compiled Scala ([[graft.functions.GraphTensorAgg]]),
    // with zero caches, zero self-joins and zero exchanges beyond the
    // one that clusters the input by frame (none at all when the
    // upstream possession window already did). The staged path below
    // remains only for Delaunay (needs the per-frame geometric edge
    // table); output is bit-identical (q_graph_frames oracle hash +
    // GraphTensorAggSpec).
    if (settings.adjacencyMatrixType != GraphSettings.Delaunay)
      return graphFramesFused(df, settings, labelCol, graphIdCol)
    // Both persists are load-bearing at scale: padFrames reads its
    // input 4× (counts, frame list, ball check, union) and the
    // node/pair aggregations each scan `prepared` — without caching,
    // the upstream kinematics/possession lineage re-executes ~6× and
    // the source is scanned 6× instead of once. When the prepared set
    // outgrows cluster memory+disk cache, use [[graphFramesBucketed]]:
    // the same pipeline with the cache swapped for a frame-key-bucketed
    // parquet materialization (zero-exchange downstream).
    val input = df.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // index once here: node/pair aggregation both need node_idx, and
    // withNodeIndex is idempotent, so caching the indexed set removes a
    // second full window pass over every frame row
    val prepared = withNodeIndex(
      if (settings.pad) padFrames(input, labelCol, graphIdCol)
      else removeIncompleteFrames(input))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    assembleGraphFrames(prepared, settings, labelCol, graphIdCol)
  }

  /** The fused single-aggregation [[graphFrames]] body (non-Delaunay
    * default feature registry only — exactly what `graphFrames` can
    * ever use). Output schema/ordering matches the staged path:
    * keys, [label?, graph_id?, ball_owning_team_id?], x, object_ids,
    * a, e. */
  private def graphFramesFused(
      df: DataFrame,
      settings: GraphSettings,
      labelCol: String,
      graphIdCol: String): DataFrame = {
    val optCols = Seq(labelCol, graphIdCol, BallOwningTeamId).filter(df.columns.contains)
    val agg = graft.functions.GraphTensorAgg.graphTensor(settings,
      col(ObjectId), col(TeamId), col(PositionName),
      col(X), col(Y), col(Z), col(Vx), col(Vy), col(Vz), col(Speed),
      col(BallOwningTeamId), col(IsBallCarrier))
    df.groupBy(frameKeys.map(col): _*)
      .agg(agg.as("__g"), optCols.map(c => first(col(c)).as(c)): _*)
      // null = frame dropped by the completeness rules
      .filter(col("__g").isNotNull)
      .select(frameKeys.map(col) ++ optCols.map(col) ++ Seq(
        col("__g").getField("x").as("x"),
        col("__g").getField("object_ids").as("object_ids"),
        col("__g").getField("a").as("a"),
        col("__g").getField("e").as("e")): _*)
  }

  /** The 100 TB variant of [[graphFrames]]: instead of double-caching,
    * the prepared (padded + node-indexed) set is written ONCE as a
    * parquet table bucketed AND bucket-sorted by the frame key, and
    * the node aggregation, the pair self-join, the pair aggregation
    * and the final node⋈pair join all run from the bucketed scan —
    * every one of those operators needs exactly the frame-key
    * clustering the buckets already provide, so the assembled plan has
    * ZERO exchanges and the upstream lineage (source scan, kinematics,
    * possession, padding) executes exactly once, with spill-to-disk
    * pressure replaced by a durable, restart-safe table
    * ([[graft.core.BucketedStore]]). Pick `numBuckets` ≈ the cluster's
    * target parallelism for the prepared set's size. */
  def graphFramesBucketed(
      spark: org.apache.spark.sql.SparkSession,
      df: DataFrame,
      settings: GraphSettings,
      path: String,
      table: String = "graft_graph_prepared",
      numBuckets: Int = 32,
      labelCol: String = Label,
      graphIdCol: String = GraphId): DataFrame = {
    // padFrames still reads its input 4× before materialization — keep
    // the transient cache for exactly that window, then drop it.
    val input = df.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val prepared = withNodeIndex(
      if (settings.pad) padFrames(input, labelCol, graphIdCol)
      else removeIncompleteFrames(input))
    graft.core.BucketedStore.write(prepared, table, path,
      frameKeys, numBuckets, sortCols = frameKeys)
    input.unpersist()
    assembleGraphFrames(graft.core.BucketedStore.read(spark, table),
      settings, labelCol, graphIdCol)
  }

  /** The staged assembly over a prepared (padded + node-indexed) set:
    * node features folded by the direct-to-tensor aggregate
    * ([[graft.functions.OrderedTensorAgg]]) into `x` / `object_ids`
    * (plus the label/graph-id passthrough columns), joined on the
    * frame key with the per-frame pair fan-out folded into `a` / `e`. */
  private[graft] def assembleGraphFrames(
      prepared: DataFrame,
      settings: GraphSettings,
      labelCol: String,
      graphIdCol: String): DataFrame = {
    val optCols = Seq(labelCol, graphIdCol, BallOwningTeamId).filter(prepared.columns.contains)
    val nodes = withNodeFeatures(prepared, settings)
      .groupBy(frameKeys.map(col): _*)
      .agg(
        graft.functions.OrderedTensorAgg.orderedNodes(col("node_idx"),
          col("x_features") -> "x", col(ObjectId) -> "object_ids").as("__nx"),
        optCols.map(c => first(col(c)).as(c)): _*)
      .withColumn("x", col("__nx").getField("x"))
      .withColumn("object_ids", col("__nx").getField("object_ids"))
      .drop("__nx")
    val edges = pairs(prepared, settings)
      .groupBy(frameKeys.map(col): _*)
      .agg(graft.functions.OrderedTensorAgg.adjacencyEdges(
        col("i_node_idx"), col("j_node_idx"), col("a"), col("e_features")).as("__ae"))
      .withColumn("a", col("__ae").getField("a"))
      .withColumn("e", col("__ae").getField("e"))
      .drop("__ae")
    nodes.join(edges, frameKeys)
  }
}
