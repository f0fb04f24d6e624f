package graft.jobs

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.Tables
import graft.llm.{CorpusPipeline, StandingState}

/** CLI for the batch corpus-preparation side — the `sync` twin for the
  * training-data pipeline: parquet documents in, packed/scrubbed/deduped
  * training rows out, with the daily-ingest (incremental, optionally
  * state-fed) regime behind flags.
  *
  * {{{
  *   runMain graft.jobs.PrepareMain \
  *     --in=/data/docs.parquet --out=/data/prepared      # full batch prep
  *     [--eval=/data/eval.parquet]                       # decontamination corpus
  *     [--embeddings=/data/emb.parquet]                  # + semantic dedup stage
  *     [--report=/data/report]                           # per-stage attrition table
  *     [--standing=/data/corpus.parquet]                 # INCREMENTAL vs standing
  *     [--state=/data/state]                             # ...fed from persisted state
  *     [--appendState]                                   # close the ingest cycle
  *     [--compactState]                # snapshot-delta compact the state tables
  *                                     # (+ the corpus table when --standing given)
  *     [--breakStateLease]                               # crashed-lease recovery (see below)
  *     [--expireState=<sql predicate>] # RETENTION: drop corpus rows matching the
  *                                     # predicate + their state artifacts (TTL ops)
  *     [--expireEmbeddings=<sql predicate>] # the EMBEDDING state's twin
  *                                     # (--standingVecs names the standing VECTOR
  *                                     # table; --standing still works when this is
  *                                     # the invocation's only expire flag)
  *     [--expireMedia=<sql predicate>] # the MEDIA state's twin (--standingMedia
  *                                     # names the standing MEDIA table; --standing
  *                                     # fallback as above)
  *     [--standingVecs=/data/vecs.parquet]   # standing VECTOR table for --expireEmbeddings
  *     [--standingMedia=/data/media.parquet] # standing MEDIA table for --expireMedia
  *     [--tau=0.8] [--minWords=20] [--maxWords=100000]
  *     [--normalize] [--packBudget=2048]
  * }}}
  *
  * MAINTENANCE-ONLY invocation (no `--in`/`--out`): `--state=...` with
  * `--breakStateLease`, `--compactState` and/or an expire flag runs the
  * state maintenance alone.
  * `--breakStateLease` removes a CRASHED mutator's lease file
  * ([[StandingState.breakLease]]) — only safe after confirming the
  * recorded holder process is dead; it runs before anything else in the
  * invocation, which is exactly the operator recovery flow: verify the
  * holder is gone, re-run the job with the flag added.
  *
  * RETENTION (`--expireState`): the predicate is a SQL boolean
  * expression over the standing-corpus columns (e.g.
  * `--expireState=doc_id < 1000`, or an ingest-timestamp horizon) —
  * [[StandingState.expire]] drops the matching corpus rows AND their
  * digest/band/span artifacts so expired content no longer blocks
  * re-admission; NULL-predicate rows are retained. This is the daily
  * TTL ops loop as a flag instead of Scala. It runs BEFORE a prepare
  * pass when combined with one (expire old rows first, then ingest the
  * new batch) and needs `--standing` (the corpus table retention
  * rewrites). `--expireEmbeddings`/`--expireMedia` are
  * the vector/media twins ([[StandingState.expireEmbeddings]] /
  * [[StandingState.expireMedia]]) — MAINTENANCE-ONLY (the text prepare
  * pipeline has no business mid-run with those states). The three expire
  * flags COMBINE: a full-state TTL pass over a text+embedding+media
  * state is ONE invocation running them sequentially (text, then
  * embeddings, then media — disjoint tables, independent lease cycles),
  * with `--standingVecs`/`--standingMedia` naming the vector/media
  * tables; when an embedding- or media-only invocation carries a single
  * expire flag, `--standing` still names that one table (the legacy
  * shape). `rows_out` reports the SUM of rows dropped across the passes.
  *
  * Modes:
  *  - `--in` + `--out` only: full [[CorpusPipeline.prepare]] (with
  *    `--report`, [[CorpusPipeline.prepareWithReport]] — the report table
  *    lands next to the output).
  *  - `+ --standing`: [[CorpusPipeline.prepareIncremental]] — the batch is
  *    prepared AGAINST the standing corpus; output rows are the admitted
  *    batch (append them to the corpus table to complete the cycle).
  *  - `+ --state`: [[CorpusPipeline.prepareIncrementalWithState]] — the
  *    standing side reads the persisted digest/band/centroid tables;
  *    `--appendState` then appends the admitted batch's artifacts back to
  *    the state, so the next run stays batch-shaped.
  *
  * Prints ONE JSON line (rows in/out, mode, paths) for scripting.
  */
object PrepareMain {

  final case class Args(
      in: String = "",
      out: String = "",
      eval: Option[String] = None,
      embeddings: Option[String] = None,
      report: Option[String] = None,
      standing: Option[String] = None,
      standingVecs: Option[String] = None,
      standingMedia: Option[String] = None,
      state: Option[String] = None,
      appendState: Boolean = false,
      compactState: Boolean = false,
      breakStateLease: Boolean = false,
      expireState: Option[String] = None,
      expireEmbeddings: Option[String] = None,
      expireMedia: Option[String] = None,
      tau: Double = 0.8,
      minWords: Int = 20,
      maxWords: Int = 100000,
      normalize: Boolean = false,
      packBudget: Long = 2048L)

  def parseArgs(argv: Array[String]): Args = {
    val a = argv.foldLeft(Args()) { (a, s) =>
      s.split("=", 2) match {
        case Array("--in", v) => a.copy(in = v)
        case Array("--out", v) => a.copy(out = v)
        case Array("--eval", v) => a.copy(eval = Some(v))
        case Array("--embeddings", v) => a.copy(embeddings = Some(v))
        case Array("--report", v) => a.copy(report = Some(v))
        case Array("--standing", v) => a.copy(standing = Some(v))
        case Array("--standingVecs", v) => a.copy(standingVecs = Some(v))
        case Array("--standingMedia", v) => a.copy(standingMedia = Some(v))
        case Array("--state", v) => a.copy(state = Some(v))
        case Array("--appendState") => a.copy(appendState = true)
        case Array("--compactState") => a.copy(compactState = true)
        case Array("--breakStateLease") => a.copy(breakStateLease = true)
        case Array("--expireState", v) => a.copy(expireState = Some(v))
        case Array("--expireEmbeddings", v) => a.copy(expireEmbeddings = Some(v))
        case Array("--expireMedia", v) => a.copy(expireMedia = Some(v))
        case Array("--tau", v) => a.copy(tau = v.toDouble)
        case Array("--minWords", v) => a.copy(minWords = v.toInt)
        case Array("--maxWords", v) => a.copy(maxWords = v.toInt)
        case Array("--normalize") => a.copy(normalize = true)
        case Array("--packBudget", v) => a.copy(packBudget = v.toLong)
        case other => sys.error(s"unknown argument '${other.mkString("=")}'")
      }
    }
    // maintenance-only: state upkeep without a prepare pass
    val maintenanceOnly =
      a.in.isEmpty && a.out.isEmpty && a.state.nonEmpty &&
        (a.breakStateLease || a.compactState || a.expireState.nonEmpty ||
          a.expireEmbeddings.nonEmpty || a.expireMedia.nonEmpty) &&
        !a.appendState
    require(maintenanceOnly || (a.in.nonEmpty && a.out.nonEmpty),
      "--in and --out are required (except a maintenance-only --state + " +
        "--breakStateLease/--compactState/--expire{State,Embeddings,Media} invocation)")
    require(maintenanceOnly || a.state.isEmpty || a.standing.nonEmpty,
      "--state needs --standing (the corpus table the state was built over)")
    require(!a.appendState || a.state.nonEmpty, "--appendState needs --state")
    require(!a.compactState || a.state.nonEmpty, "--compactState needs --state")
    require(!a.breakStateLease || a.state.nonEmpty, "--breakStateLease needs --state")
    require(a.expireState.isEmpty || (a.state.nonEmpty && a.standing.nonEmpty),
      "--expireState needs --state and --standing (retention rewrites the corpus table)")
    // the three expire flags COMBINE (a full-state TTL pass is one
    // invocation); the vector/media twins resolve their standing table
    // from --standingVecs/--standingMedia, falling back to --standing
    // only when that twin is the invocation's SOLE expire flag (the
    // legacy single-expire shape) — a combined pass must name each table
    // explicitly, or two expires would rewrite the same directory
    require(a.expireEmbeddings.isEmpty ||
        (a.in.isEmpty && a.state.nonEmpty && standingVecsOf(a).nonEmpty),
      "--expireEmbeddings is maintenance-only and needs --state and " +
        "--standingVecs (the standing VECTOR table; --standing works only " +
        "when this is the invocation's sole expire flag)")
    require(a.expireMedia.isEmpty ||
        (a.in.isEmpty && a.state.nonEmpty && standingMediaOf(a).nonEmpty),
      "--expireMedia is maintenance-only and needs --state and " +
        "--standingMedia (the standing MEDIA table; --standing works only " +
        "when this is the invocation's sole expire flag)")
    // the reverse direction of the combined-TTL flags: a standing-table
    // flag without its expire predicate would silently skip that
    // family's retention pass (the --retentionEvery silent-strand class)
    require(a.standingVecs.isEmpty || a.expireEmbeddings.nonEmpty,
      "--standingVecs needs --expireEmbeddings (the predicate that expires it)")
    require(a.standingMedia.isEmpty || a.expireMedia.nonEmpty,
      "--standingMedia needs --expireMedia (the predicate that expires it)")
    // the attrition report exists only for the full-batch pipeline
    // (prepareWithReport); silently ignoring the flag in incremental mode
    // would strand scripting that reads the report path
    require(a.report.isEmpty || a.standing.isEmpty,
      "--report is batch-mode only (prepareWithReport); drop it for incremental runs")
    a
  }

  /** True iff `flag` is the invocation's only expire flag — the legacy
    * single-expire shape where `--standing` names that twin's table. */
  private def soleExpire(a: Args, flag: Option[String]): Boolean =
    flag.nonEmpty &&
      Seq(a.expireState, a.expireEmbeddings, a.expireMedia).count(_.nonEmpty) == 1

  /** Standing VECTOR table for `--expireEmbeddings` (see the combined-
    * flags note in [[parseArgs]]). */
  def standingVecsOf(a: Args): Option[String] =
    a.standingVecs.orElse(
      if (soleExpire(a, a.expireEmbeddings)) a.standing else None)

  /** Standing MEDIA table for `--expireMedia`. */
  def standingMediaOf(a: Args): Option[String] =
    a.standingMedia.orElse(
      if (soleExpire(a, a.expireMedia)) a.standing else None)

  def cfgOf(a: Args): CorpusPipeline.Config = CorpusPipeline.Config(
    minWords = a.minWords, maxWords = a.maxWords, nearDupTau = a.tau,
    normalizeFingerprints = a.normalize, packBudget = a.packBudget)

  /** Run one prepare pass; returns (result rows written, mode string). */
  def run(spark: SparkSession, a: Args): (Long, String) = {
    import org.apache.spark.sql.functions.expr
    // crashed-lease recovery runs FIRST: the rest of the invocation (the
    // prepare's append, the retention pass, or the compact) re-takes the
    // lease normally
    if (a.breakStateLease) StandingState.breakLease(spark, a.state.get)
    // retention before the prepare pass (the daily ops order: expire old
    // rows first so the incremental dedup does not hold the new batch
    // against already-expired content); sequential, text -> embeddings
    // -> media: the three twins mutate DISJOINT tables, each under its
    // own lease cycle, so one JVM (and one flag set) covers the whole
    // daily TTL loop
    val nExpired = a.expireState.fold(0L)(p =>
      StandingState.expire(spark, a.state.get, a.standing.get, expr(p))) +
      a.expireEmbeddings.fold(0L)(p =>
        StandingState.expireEmbeddings(
          spark, a.state.get, standingVecsOf(a).get, expr(p))) +
      a.expireMedia.fold(0L)(p =>
        StandingState.expireMedia(
          spark, a.state.get, standingMediaOf(a).get, expr(p)))
    if (a.in.isEmpty) { // maintenance-only invocation
      if (a.compactState) StandingState.compact(spark, a.state.get, a.standing)
      // rows_out reports the rows the retention pass dropped
      return (nExpired, "maintenance")
    }
    val docs = Tables.read(spark, a.in)
    val eval = a.eval.map(Tables.read(spark, _))
    val emb = a.embeddings.map(Tables.read(spark, _))
    val cfg = cfgOf(a)
    val (result, mode): (DataFrame, String) = (a.standing, a.state) match {
      case (Some(st), Some(sp)) =>
        val standing = Tables.read(spark, st)
        val out = CorpusPipeline.prepareIncrementalWithState(
          docs, standing, StandingState.load(spark, sp), eval, cfg, emb)
        (out, "incremental-state")
      case (Some(st), None) =>
        (CorpusPipeline.prepareIncremental(
          docs, Tables.read(spark, st), eval, cfg, emb), "incremental")
      case (None, _) =>
        a.report match {
          case Some(rp) =>
            val (out, report) = CorpusPipeline.prepareWithReport(docs, eval, cfg, emb)
            report.coalesce(1).write.mode("overwrite").parquet(rp)
            (out, "batch+report")
          case None => (CorpusPipeline.prepare(docs, eval, cfg, emb), "batch")
        }
    }
    // one barrier: the written rows feed the count and the optional state
    // append without recomputing the pipeline
    result.write.mode("overwrite").parquet(a.out)
    val written = Tables.read(spark, a.out)
    val n = written.count()
    if (a.appendState)
      StandingState.append(written, a.state.get, cfg)
    if (a.compactState)
      StandingState.compact(spark, a.state.get, a.standing)
    (n, mode)
  }

  def main(argv: Array[String]): Unit = {
    val a = parseArgs(argv)
    val spark = graft.Sessions.build("graft-prepare")
    try {
      val (n, mode) = run(spark, a)
      println(s"""{"job":"prepare","mode":"$mode","rows_out":$n,"out":"${a.out}"}""")
    } finally spark.stop()
  }
}
