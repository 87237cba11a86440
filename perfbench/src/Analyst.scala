package perfbench

import graft.Container
import graft.operators.{Pipeline, PipelineConfig}
import graft.sources.{ReadConfig, Writers}
import graft.sql.GraftSql

import scala.collection.mutable

/** The reference viewer's own user path: open a `;`-delimited CSV, look at
  * the first page and the shape, then a fixed script of interactions
  * (pipeline re-configurations and header-click sorts), each ending with
  * the first page and the shape, then save the displayed table in four
  * formats. Every cycle opens the file afresh and releases the cache at
  * the end, so cycles do the same work.
  *
  * Operation kinds: `load` is one open (load, first page, shape), made
  * [[Analyst.Opens]] times per cycle; `step` is one interaction; `write`
  * is the four saves. Pages and shapes go to the result file, where the
  * Python side compares them with DuckDB.
  */
final class Analyst(run: Run, data: String) extends Workload {
  import Analyst._

  private val csv = s"$data/analyst.csv"

  def setupPass(): Unit = open(mutable.ArrayBuffer.empty).release()

  /** The interaction script once over the tiny CSV: each interaction plans
    * and compiles a query shape of its own, and that first-use cost made
    * measured interaction times vary twice as much between runs. */
  override def prime(): Unit = {
    var c = open(mutable.ArrayBuffer.empty)
    try Script.foreach { act => c = next(c, act); show(c, 0) }
    finally c.release()
  }

  private def next(c: Container, act: Act): Container = act match {
    case Configure(cfg) => c.withConfig(cfg)
    case Click(column)  => c.clickColumn(column)
  }

  private def open(pages: mutable.ArrayBuffer[Any]): Container = run.op("load") {
    val opened = run.span("sources.read") {
      Container.load(run.spark, csv, ReadConfig(), Base)
    }
    pages += show(opened, -1)
    opened
  }

  def cycle(i: Int): Boolean = {
    val out = s"${run.work}/analyst/cycle-$i"
    val pages = mutable.ArrayBuffer.empty[Any]
    // the file is opened Opens times; the last opening is the session's
    (1 until Opens).foreach(_ => open(mutable.ArrayBuffer.empty).release())
    var c = open(pages)
    try {
      Script.zipWithIndex.foreach { case (act, k) =>
        run.trace.step = k
        act match {
          case Configure(cfg) if run.trace.isActive =>
            // the rewrite probes the table's schema, so register the view
            // the way the pipeline's SQL stage does before timing it
            cfg.sql.foreach { q =>
              run.op("rewrite") {
                Pipeline.run(c.original, cfg.copy(sql = None, removeNullCols = false,
                  rowIndex = None)).createOrReplaceTempView(cfg.tableName)
                run.span("sql.rewrite")(GraftSql.rewrite(run.spark, q))
              }
            }
          case _ => ()
        }
        c = run.op("step") {
          val shown = next(c, act)
          pages += show(shown, k)
          shown
        }
      }
      val saved = run.op("write") {
        SaveFormats.map { ext =>
          val path = s"$out/session.$ext"
          run.span("sources.write")(Writers.saveAs(c.current, path, singleFile = true))
          ext -> path
        }
      }
      run.outputs(s"cycle$i") = Map("pages" -> pages, "saved" -> saved.toMap)
    } finally c.release()
    true
  }

  /** The displayed frame, its first page and its shape — what the viewer
    * shows after every action. */
  private def show(c: Container, step: Int): Map[String, Any] = {
    val layer = if (c.sortCriteria.isEmpty) "pipeline.build" else "sort.build"
    val cur = run.span(layer)(c.current)
    val page = run.span("page.fetch")(cur.limit(PageRows).collect())
    val (rows, cols) = run.span("introspect.shape")(c.shape)
    Map("step" -> step, "columns" -> cur.columns.toSeq,
      "rows" -> page.map(_.toSeq).toSeq, "shape" -> Seq(rows, cols))
  }
}

object Analyst {
  /** Opens per cycle. The first few run slower while the JIT compiles the
    * full-size read path (about 1.4 s falling to 0.9 s); with nine, the
    * median lands where opens have settled. */
  val Opens = 9
  val PageRows = 50
  val SaveFormats: Seq[String] = Seq("parquet", "csv", "json", "ndjson")

  sealed trait Act
  final case class Configure(cfg: PipelineConfig) extends Act
  final case class Click(column: String) extends Act

  /** Open-time configuration: Euro amounts normalized (T2), default null
    * markers (T3), all-null columns removed (T5), row index (T6). */
  val Base: PipelineConfig = PipelineConfig(
    normalizeRegex = Some("^Valor.*$"),
    removeNullCols = true,
    rowIndex = Some(("Row Number", 1L)))

  private def sql(q: String) = Configure(Base.copy(sql = Some(q)))

  /** The interaction script. The Python checker restates each step in
    * DuckDB SQL, so the two lists must change together. */
  val Script: Seq[Act] = Seq(
    sql("""SELECT * EXCEPT ("Codigo", "Valor Frete") FROM AllData WHERE "Qtd" > 20"""),
    Click("Valor Total"),
    Click("Valor Total"),
    Click("Cidade"),
    Click("Valor Total"),
    sql("""SELECT * REPLACE (round("Valor Total" * 1.1, 2) AS "Valor Total") """ +
      """FROM AllData WHERE "Categoria" IN ('A', 'C')"""),
    Click("Qtd"),
    sql("""SELECT "Categoria", "Cidade", count(*) AS n, round(sum("Valor Total"), 2) AS total """ +
      """FROM AllData GROUP BY ALL ORDER BY "Categoria", "Cidade""""),
    Click("total"),
    Configure(Base.copy(dropRegex = Some("^(Ratio|Codigo)$"),
      sql = Some("""SELECT * FROM AllData WHERE "Cidade" IS NULL OR "Valor Total" > 90000"""))),
    Click("id"),
    Configure(Base))
}
