package perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.sql.DataFrame

import graft.SparkEntry
import graft.queries.RelationalQueries

/** `query`: a fixed set of declared queries and the three near-duplicate
  * detectors over the seeded tables in `--data`, closed loop with one
  * client, in a seeded order that changes every pass.
  *
  * An untimed first pass writes every query result as parquet for the
  * oracle check, runs each detector once for the pair checks (traced, with
  * its candidate count as a child span), and warms codegen and the JIT.
  * Then `Passes` whole passes are timed, a fixed number, so the samples do
  * not change with the program's speed. A declared query is timed in two parts:
  * planning (`build` + `queryExecution.executedPlan`) and execution (a
  * noop-format write, as `graft.Bench` forces a query). A detector is
  * timed from the checkpointed documents to its materialized pair set.
  *
  * The declared set covers both families with queries that finish in
  * about a second or less on this data, so a pass fits in one run; the
  * state-heavy intake queries' work is the corpus intake's, and
  * the near-duplicate queries' kernels run here as the detectors.
  *
  * A traced run then drives the corpus intake ([[Intake]]) for the `llm`
  * state layer's numbers and checks.
  */
object Query {
  val Selected: Seq[String] = Seq(
    "q01_scan_filter", "q11_tpch_q1", "q12_window_rank", "q37_asof_join",
    "q18_exact_dedup", "q45_tfidf", "q48_redact_pii", "q63_incremental_dedup")
  val Tables: Seq[String] = Seq("region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")
  val SetupRepeats = 3
  val Passes = 1

  def family(name: String): String =
    if (RelationalQueries.all.exists(_.name == name)) "relational" else "llm"

  private def truthPairs(data: String, kind: String): Set[(Long, Long)] = {
    val node = new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(new java.io.File(s"$data/neardup_truth.json")).get(kind)
    (0 until node.size).map(i => (node.get(i).get(0).asLong, node.get(i).get(1).asLong)).toSet
  }

  def run(ctx: Main.Ctx): Unit = {
    val spark = ctx.spark
    val data = ctx.data.getOrElse(sys.error("query needs --data"))
    val declared = SparkEntry.declared.filter(d => Selected.contains(d.name))
    require(declared.size == Selected.size,
      s"declared queries missing: ${Selected.diff(declared.map(_.name))}")

    // set-up: open every table (schema and footers) and checkpoint the
    // detectors' input
    var docs: DataFrame = null
    ctx.out("setup_s") = (0 until SetupRepeats).map { _ =>
      ctx.span("setup") {
        ctx.scoped("setup") {
          val t0 = System.nanoTime()
          Tables.foreach(t => graft.Tables.table(spark, data, t).schema)
          docs = graft.Tables.documents(spark, data).select("doc_id", "text").localCheckpoint(true)
          (System.nanoTime() - t0) / 1e9
        }
      }
    }

    val results = s"${ctx.work}/results"
    val broken = mutable.Set.empty[String]
    val counts = mutable.Map.empty[String, Long]
    val first = ctx.span("oracle_pass") {
      declared.foreach { d =>
        ctx.scoped(s"oracle:${d.name}") {
          try d.build(spark, data).coalesce(1).write.mode("overwrite").parquet(s"$results/${d.name}")
          catch {
            case e: Throwable =>
              broken += d.name
              ctx.failures += s"${d.name} failed: ${e.toString.take(300)}"
          }
        }
      }
      NearDup.Detectors.map { n =>
        n -> ctx.scoped(s"oracle:$n") {
          ctx.span(s"llm.$n") {
            if (ctx.tracer.enabled)
              counts(n) = ctx.span(s"llm.$n.candidates")(NearDup.candidates(n, docs))
            NearDup.run(n, docs)
          }
        }
      }.toMap
    }
    ctx.check("query runs", declared.size, broken.size)
    NearDup.check(ctx, first, truthPairs(data, "exact"), truthPairs(data, "near"))
    Files.writeString(Paths.get(s"${ctx.work}/oracle_sql.json"),
      Main.json.writeValueAsString(declared.flatMap(d => d.oracle.map(d.name -> _)).toMap))

    val items: Seq[String] = declared.map(_.name).filterNot(broken) ++ NearDup.Detectors
    val byName = declared.map(d => d.name -> d).toMap
    val rnd = new scala.util.Random(ctx.seed)
    val timings = mutable.ArrayBuffer.empty[Map[String, Any]]
    var last = first
    val t0 = System.nanoTime()
    var pass = 0
    while (pass < Passes) {
      rnd.shuffle(items).foreach { name =>
        val scope = s"query:$name:$pass"
        val c0 = Collector.codegenCompiles
        val (fam, planS, execS) = ctx.scoped(scope) {
          byName.get(name) match {
            case Some(d) =>
              val fam = family(name)
              ctx.span(s"query.$fam") {
                val a = System.nanoTime()
                val df = ctx.span(s"queries.$fam.plan") {
                  val df = d.build(spark, data)
                  df.queryExecution.executedPlan
                  df
                }
                val b = System.nanoTime()
                ctx.span(s"queries.$fam.exec") {
                  df.write.mode("overwrite").format("noop").save()
                }
                (fam, (b - a) / 1e9, (System.nanoTime() - b) / 1e9)
              }
            case None =>
              val a = System.nanoTime()
              val out = ctx.span(s"llm.$name")(NearDup.run(name, docs))
              val s = (System.nanoTime() - a) / 1e9
              val want = first(name)
              ctx.check(s"$name pairs repeat across passes", 1,
                if (out.count == want.count && out.checksum == want.checksum) 0 else 1)
              last += name -> out
              ("neardup", 0.0, s)
          }
        }
        timings += Map("name" -> name, "family" -> fam, "pass" -> pass,
          "plan_s" -> planS, "exec_s" -> execS,
          "codegen_compiles" -> (Collector.codegenCompiles - c0), "scope" -> scope)
      }
      pass += 1
    }
    ctx.out("passes") = pass
    ctx.out("elapsed_s") = (System.nanoTime() - t0) / 1e9
    ctx.out("queries") = timings.toSeq
    ctx.out("pairs") = last.map { case (k, o) => k -> Map("pairs" -> o.count, "checksum" -> o.checksum) }

    def of(fam: String, k: String): Seq[Double] =
      timings.filter(_("family") == fam).map(_(k).asInstanceOf[Double]).toSeq
    ctx.layer("queries.relational.plan_s", of("relational", "plan_s").sum)
    ctx.layer("queries.relational.exec_s", of("relational", "exec_s").sum)
    ctx.layer("queries.llm.plan_s", of("llm", "plan_s").sum)
    ctx.layer("queries.llm.exec_s", of("llm", "exec_s").sum)
    ctx.layer("queries.codegen_compiles", timings.map(_("codegen_compiles").asInstanceOf[Long]).sum)
    NearDup.Detectors.foreach { n =>
      ctx.layer(s"llm.${n}_s", Stats.median(timings.filter(_("name") == n)
        .map(_("exec_s").asInstanceOf[Double]).toSeq))
    }
    if (ctx.tracer.enabled) {
      ctx.out("candidates") = counts.toMap
      NearDup.layers(ctx, last, counts)
      // the llm state layer, after the timed pass so it moves no
      // end-to-end figure
      ctx.span("intake") { Intake.run(ctx) }
    }
  }
}
