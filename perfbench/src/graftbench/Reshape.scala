package graftbench

import graft.core.{Agg, KFrame}
import graft.viz.{Babel, Coords, Kevin, Marks, Scales, Visuals}

/** kframe_reshape: a long sequence of KevinLang-surface ops on modest
  * frames. Each op is a fresh small plan, so driver-side building,
  * planning and per-job overhead dominate.
  */
object Reshape extends Workload {
  // a round is short and its ops still speed up after the first round
  override val warmupRounds = 2
  val Months: Seq[String] = (1 to 12).map(i => f"m$i%02d")
  val Regions: Seq[String] = Seq("alpine", "central", "coast", "delta", "east",
    "north", "south", "west")

  def setup(ctx: Ctx): Seq[Op] = {
    val spark = ctx.spark
    val sales = KFrame.fromParquet(spark, s"${ctx.in}/sales.parquet")
    val more = KFrame.fromParquet(spark, s"${ctx.in}/sales_more.parquet")
    val wide = KFrame.fromParquet(spark, s"${ctx.in}/wide.parquet")
    val scores = KFrame.fromParquet(spark, s"${ctx.in}/scores.parquet")
    val n = sales.height.toInt
    def core(name: String)(f: => KFrame) =
      Op(name, "core", ordered = true)(_ => f.toOrderedDF)
    def sorted = sales.sort("units")
    Seq(
      core("aggregate")(sales.groupby("region")
        .transform(Agg.sum, "units", "region_units")
        .groupby("region", "region_units").aggregate(Agg.sum, "units")),
      // melt, then cast back, then move the column tree to the rows and the
      // row tree to the columns: the transpose of the input
      Op("reshape", "core", ordered = true)(_ =>
        wide.melt(Seq("region"), Months)
          .cast(Seq("region"), Seq("variable"), Agg.sum, "value")
          .stack("variable").unstack("region")
          .pivotedWide(Regions.map(Seq(_)))),
      core("sort_head")(sorted.tail.drop(10).head.select("rid", "units")),
      core("sort_last")(sorted.init.take(20).last.select("rid", "units")),
      core("append_zip")(sales.append(more).select("rid", "units").zipColumns(scores)
        .drop(n - 50).take(100)),
      Op("render", "render")(_ =>
        sales.cast(Seq("region"), Seq("channel"), Agg.sum, "units").render()),
      Op("babel", "viz")(_ =>
        Babel.genBabel(
          sales.groupby("region", "channel").aggregate(Agg.sum, "units"),
          Kevin.assemble(
            Kevin.coord(Coords.cartesian(Scales.category("region"),
              Scales.linear("units"))),
            Kevin.mark(Marks.interval.stack),
            Kevin.visual(Visuals.color(Scales.category("channel"))))).json))
  }
}
