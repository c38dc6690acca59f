package graft.graphs

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Distributed CGConv forward pass — inference for the
  * CrystalGraphClassifier the reference trains in PyG/Spektral
  * (`classifiers/crystal_graph.py:6-41`,
  * `crystal_graph_pyg.py:84-146`): n× CGConv → global mean pool →
  * dense stack. Training stays in PyG/Spektral on the exported graph
  * parquet; this runs a TRAINED model over every frame as one Spark
  * plan, so scoring a 100 TB season is a join + aggregate pipeline
  * instead of a driver-side tensor loop.
  *
  * CGConv (Xie & Grossman 2018, as in `torch_geometric.nn.CGConv`,
  * sum aggregation):
  * {{{ x_i' = x_i + Σ_{j→i} σ(z_ij·W_f + b_f) ⊙ softplus(z_ij·W_s + b_s),
  *     z_ij = x_i ‖ x_j ‖ e_ij }}}
  *
  * Layout: the LONG tables the converter already produces — nodes
  * (frame key, node_idx, features array) and edges (frame key, i_idx,
  * j_idx, e_features array, a=1) — not the per-frame matrices; the
  * message pass is then one edge⋈node join per side plus one
  * (frame, node) aggregation, all shuffles on keys the graph pipeline
  * already uses. Weights are literal arrays baked into the plan
  * (model sizes are KBs — they ride the closure, no broadcast
  * plumbing needed).
  *
  * The per-edge/per-node matvecs run through the codegen'd
  * [[graft.functions.MatVecAffine]] expression (weights baked into
  * the generated Java — one fused double loop per call, no
  * interpreted lambda dispatch, no intermediate arrays); MatVecAffineSpec
  * keeps the equivalent higher-order-function form as its bit-parity
  * reference.
  */
object GnnInference {

  /** One CGConv layer's parameters. Dimensions: wf/ws are
    * (zDim = 2·F + E) × F, row-major (wf(m)(k) multiplies z(m) into
    * out(k)); bf/bs are length F. */
  final case class CgLayer(
      wf: Seq[Seq[Double]], bf: Seq[Double],
      ws: Seq[Seq[Double]], bs: Seq[Double])

  /** Dense layer: w is (inDim × outDim) row-major, b length outDim;
    * activation ∈ {relu, sigmoid, linear}. */
  final case class DenseLayer(w: Seq[Seq[Double]], b: Seq[Double], activation: String)

  /** out(k) = act( b(k) + Σ_m z(m)·w(m)(k) ) as an array column: the
    * codegen'd [[graft.functions.MatVecAffine]], literal weights fused
    * into generated Java. MatVecAffineSpec pins element-for-element
    * parity with the higher-order-function form, null quirks included. */
  private def affine(z: Column, w: Seq[Seq[Double]], b: Seq[Double], act: String): Column =
    graft.functions.MatVecAffine.affineNative(z, w, b, act)

  /** One CGConv message pass over long-form tables.
    * @param nodes  (keys…, `idx`, `x` ARRAY<DOUBLE>)
    * @param edges  (keys…, `i`, `j`, `e` ARRAY<DOUBLE>) — directed
    *               rows; symmetric graphs carry both directions, like
    *               the converter's pair table.
    * @return nodes with `x` replaced by the layer output. */
  def cgconv(nodes: DataFrame, edges: DataFrame, keys: Seq[String], layer: CgLayer): DataFrame = {
    val nj = nodes.select((keys.map(col) :+ col("idx").as("j") :+ col("x").as("xj")): _*)
    val ni = nodes.select((keys.map(col) :+ col("idx").as("i") :+ col("x").as("xi")): _*)
    val z = concat(col("xi"), col("xj"), col("e"))
    val messages = edges
      .join(ni, keys :+ "i")
      .join(nj, keys :+ "j")
      // materialize z once; both matvecs consume it (HOF lambdas
      // re-evaluate embedded subtrees per element — see /verify notes)
      .withColumn("z", z)
      .withColumn("msg",
        zip_with(
          affine(col("z"), layer.wf, layer.bf, "sigmoid"),
          affine(col("z"), layer.ws, layer.bs, "softplus"),
          (g, s) => g * s))
      .groupBy((keys.map(col) :+ col("i").as("idx")): _*)
      // deterministic: messages sum in source-node order — the direct
      // aggregate ([[graft.functions.OrderedTensorAgg.orderedVectorSum]])
      // sums sequentially in ascending j, bit-identical to the former
      // aggregate(transform(array_sort(collect_list(...)))) fold but
      // without the interpreted HOF chain or the intermediate array
      .agg(graft.functions.OrderedTensorAgg
        .orderedVectorSum(col("j"), col("msg")).as("sum_msg"))
    nodes.join(messages, keys :+ "idx", "left")
      .withColumn("x",
        when(col("sum_msg").isNull, col("x"))
          .otherwise(zip_with(col("x"), col("sum_msg"), (a, b) => a + b)))
      .drop("sum_msg")
  }

  /** Full classifier forward pass: n× CGConv → global mean pool per
    * graph → dense stack. Returns one row per graph with `score`
    * ARRAY<DOUBLE> (the head's output, e.g. length 1 sigmoid). */
  def forward(
      nodes: DataFrame,
      edges: DataFrame,
      keys: Seq[String],
      convs: Seq[CgLayer],
      head: Seq[DenseLayer]): DataFrame = {
    val pooled = pooledEmbeddings(nodes, edges, keys, convs)
    val scored = head.foldLeft(pooled) { (df, l) =>
      df.withColumn("score", affine(col("score"), l.w, l.b, l.activation))
    }
    scored.select((keys.map(col) :+ col("score")): _*)
  }

  /** The conv stack + global mean pool WITHOUT the head: one row per
    * graph with `score` = the pooled graph embedding (ARRAY<DOUBLE>).
    * This is the feature table a head TRAINER consumes
    * ([[graft.llm.MlBridge.gnnHeadFit]] /
    * [[graft.llm.MlBridge.gnnHeadLsq2]]) — [[forward]] is exactly
    * this followed by the dense stack, so a head trained here serves
    * through `forward` unchanged. */
  def pooledEmbeddings(
      nodes: DataFrame,
      edges: DataFrame,
      keys: Seq[String],
      convs: Seq[CgLayer]): DataFrame = {
    val convolved = convs.foldLeft(nodes)((n, l) => cgconv(n, edges, keys, l))
    convolved
      .groupBy(keys.map(col): _*)
      .agg(
        graft.functions.OrderedTensorAgg
          .orderedVectorSum(col("idx"), col("x")).as("__sum"),
        count(lit(1)).as("__n"))
      .withColumn("score", transform(col("__sum"), v => v / col("__n")))
      .drop("__sum", "__n")
  }
}
