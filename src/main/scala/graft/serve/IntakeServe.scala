package graft.serve

import com.sun.net.httpserver.HttpExchange
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.streaming.LivePipeline

/** HTTP status facade for the live intake ([[graft.streaming
  * .LivePipeline]]) — the operational API a production corpus intake
  * owes the people feeding it:
  *
  *  - `GET /fate?doc_id=<n>` — the per-doc audit record ("why was my
  *    document dropped"): fate, quality score, source batch;
  *  - `GET /admissions[?batch=<id>]` — the admission dashboard: doc
  *    counts by fate over the whole intake history, or one commit
  *    (the drift view);
  *  - `GET /quarantine[?doc_id=<n>|batch=<id>][&limit=<n>]` — the
  *    dead-letter shelf: raw contract-violating rows with payloads,
  *    for producer debugging;
  *  - `GET /progress` — per-(lang, shard) packed-token cursors (the
  *    commit frontier: how much packed corpus exists right now);
  *  - `GET /snapshot?as_of=<batch>` — the reproducible-corpus
  *    manifest: per-lang doc/token totals a training run pinned at
  *    that commit point reads (`as_of` omitted = the live frontier);
  *  - `GET /search?q=<terms>&k=<n>` (when constructed with the
  *    composed stack's index config) — BM25 over the CURATED corpus:
  *    only admitted docs are indexed, so a hit implies membership in
  *    the training pack;
  *  - `GET /metrics` (when constructed with an [[graft.streaming
  *    .IntakeMetrics]] listener) — recent per-trigger progress
  *    (input rows, trigger latency) from the listener-bus ring, no
  *    Spark job per request;
  *  - `GET /knn?q=<f1,f2,…>&k=<n>[&probes=<p>]` (when constructed
  *    with a [[graft.streaming.LiveVectors]] config) — bucket-pruned
  *    cosine top-k over the continuously-maintained ANN store;
  *  - `GET /stores` — maintenance posture of every store behind the
  *    intake (partition counts, commit frontier, pending
  *    fold/rewrite recovery debt), driver-side listings only;
  *  - `GET /release[?window=<w>][&as_of=<batch>]` (when constructed
  *    with a [[graft.streaming.LiveRelease]] config) — the continual
  *    DP release from the live day-count store, with LIVE budget
  *    enforcement: a ledger-refused request answers 429 and releases
  *    nothing. The oracle-replayable seeded draw is server
  *    construction config (`releaseSeeded`), never a query param;
  *  - `GET /alert[?as_of=<batch>]` (same construction) — the SVT
  *    threshold question (x51) over the live store at the server's
  *    `alertThreshold`: verdict rows only, one ε per request-stream,
  *    same 429 leg;
  *  - `GET /histogram[?unit=user][&as_of=<batch>]` (same
  *    construction) — the δ-licensed stability histogram (x54, or x55
  *    at `unit=user`) over the live cell stores: each request charges
  *    the (ε, δ) PAIR against the ledger's two budgets, and either
  *    overdraw answers 429;
  *  - `GET /subsampled[?mech=gauss][&as_of=<batch>]` (same
  *    construction) — the amplified releases (x56/x60) over the live
  *    kept-subsample stores at the server's `subsampleQ`: the Laplace
  *    leg charges the amplified ε', the Gaussian leg the (ε', δ')
  *    pair — or, under an `rdpAccountant`, its (q, σ) Rényi footprint
  *    (the K-schedule spelling) — same 429 contract;
  *  - `GET /rdp` (when constructed with an `rdpAccountant`) — the
  *    accountant's audit readout: the (q, σ) registry with running
  *    conversions, budget, δ target, and current spend; charge-free
  *    (public schedule state, post-processing of charged releases);
  *  - `GET /range[?as_of=<batch>]` (release construction) — the x63
  *    range-count release: 94 public range answers from one noised
  *    dyadic tree, ONE ε per request, same 429 contract;
  *  - `GET /local[?as_of=<batch>]` (when constructed with a
  *    `localDomain`) — the x62 local-DP frequency estimate from the
  *    live report store; CHARGE-FREE by design (ε was spent per
  *    record at the ingest coin; reading reports is post-processing);
  *  - `GET /encode?text=<words>[&model=pruned]` (when constructed
  *    with `tokenizer = Some(datasetDir)`) — the tokenizer serving
  *    twin: Viterbi-segment the text against that dataset's memoized
  *    unigram model (x57's refit model; `model=pruned` for x59's
  *    pruned model), one row per word position with its pieces and
  *    piece count — x58's accounting, served per request.
  *
  * Built on the same JDK HttpServer as [[HttpServe]] (no dependency,
  * JSON array bodies, wildcard CORS), and a DEMO-serving tier: unlike
  * HttpServe, which answers from an index built once, each request
  * runs one bounded Spark job. The queries it runs are the scale-safe
  * spellings — the fate lookup is a point predicate
  * over the doc_id-monotone audit partitions (parquet min/max stats
  * prune to ~one row group), the dashboard is one combinable
  * aggregate over 1-row-per-doc audit records, and the progress read
  * is the latest cursor snapshot (per-(lang, shard)-sized). A
  * production deployment would put the same frames behind a real
  * gateway with a cache; the engine-side work is already the cheap
  * shape.
  */
final class IntakeServe(spark: SparkSession, cfg: LivePipeline.Config,
    port: Int = 0,
    index: Option[graft.streaming.LiveIndex.Config] = None,
    metrics: Option[graft.streaming.IntakeMetrics] = None,
    vectors: Option[graft.streaming.LiveVectors.Config] = None,
    release: Option[graft.streaming.LiveRelease.Config] = None,
    releaseLedger: Option[graft.operators.DpLedger] = None,
    releaseWindows: Range = 0 until 1,
    releaseSeeded: Boolean = false,
    alertThreshold: Double = 100.0,
    histogramDelta: Double = 1e-6,
    histogramCapCells: Int = 4,
    subsampleQ: Double = 0.5,
    rdpAccountant: Option[graft.operators.RdpAccountant] = None,
    localDomain: Seq[String] = Nil,
    localEps: Double = 1.0,
    tokenizer: Option[String] = None) {

  private val server = Facade.server(port)

  def boundPort: Int = server.getAddress.getPort

  server.createContext("/fate", (ex: HttpExchange) => Facade.handle(ex) { p =>
    val id = p("doc_id").toLong
    Facade.arrayJson(LivePipeline.auditOutput(spark, cfg)
      .filter(col("doc_id") === id)
      .select("doc_id", "fate", "quality_score", "batch"))
  })
  server.createContext("/admissions", (ex: HttpExchange) => Facade.handle(ex) { p =>
    // ?batch=<id> narrows to one commit — the admission-drift view
    // (compare consecutive batches to see a quality regression
    // arrive). The single-batch read goes through auditBatchServed —
    // the batch's own partition, O(1) listing, NOT auditOutput's
    // full-history listing — while keeping the output reads'
    // visibility contract (frontier clamp + RTBF mask), so this
    // endpoint's two spellings can never disagree about a doc.
    val scoped = p.get("batch").map(_.toLong) match {
      case Some(id) => LivePipeline.auditBatchServed(spark, cfg, id)
      case None => LivePipeline.auditOutput(spark, cfg)
    }
    Facade.arrayJson(scoped
      .groupBy("fate").agg(count(lit(1)).as("n_docs"))
      .orderBy(col("fate")))
  })
  // the dead-letter shelf: raw quarantined rows (payload included) for
  // producer debugging — by doc_id, by batch, or the recent tail; the
  // row count is limit-bounded (serving-tier discipline)
  server.createContext("/quarantine", (ex: HttpExchange) => Facade.handle(ex) { p =>
    val rows = LivePipeline.quarantineOutput(spark, cfg)
    val scoped = p.get("doc_id").map(id => rows.filter(col("doc_id") === id.toLong))
      .orElse(p.get("batch").map(b => rows.filter(col("batch") === b.toLong)))
      .getOrElse(rows)
    Facade.arrayJson(scoped.orderBy(col("batch").desc, col("doc_id"))
      .limit(p.getOrElse("limit", "100").toInt))
  })
  server.createContext("/progress", (ex: HttpExchange) => Facade.handle(ex) { _ =>
    Facade.arrayJson(LivePipeline.packProgress(spark, cfg)
      .orderBy(col("lang"), col("shard")))
  })
  // keyword search over the curated corpus, when the intake runs the
  // composed stack (LivePipeline.stepWithIndex): only ADMITTED docs
  // are indexed, so a result here implies the doc is in the pack
  index.foreach { idx =>
    server.createContext("/search", (ex: HttpExchange) => Facade.handle(ex) { p =>
      val terms = p("q").split("\\s+").toSeq.filter(_.nonEmpty)
      val k = p.getOrElse("k", "10").toInt
      Facade.arrayJson(graft.streaming.LiveIndex.bm25(spark, idx, terms, k))
    })
  }
  // ANN over the live vector store (LiveVectors.topK): the query
  // embedding arrives as comma-separated floats; the corpus-side work
  // is one partition-pruned scan of the probed bucket= directories
  vectors.foreach { vcfg =>
    server.createContext("/knn", (ex: HttpExchange) => Facade.handle(ex) { p =>
      val q = p("q").split(",").map(_.trim.toFloat)
      val k = p.getOrElse("k", "10").toInt
      val probes = p.getOrElse("probes", "1").toInt
      Facade.arrayJson(graft.streaming.LiveVectors.topK(spark, vcfg, q, k, probes))
    })
  }
  // recent per-trigger throughput/latency from the listener-bus ring
  // (graft.streaming.IntakeMetrics) — served straight from driver
  // memory, no Spark job; delivery is async, so this is "recent
  // progress", while commit state remains /progress
  metrics.foreach { m =>
    server.createContext("/metrics", (ex: HttpExchange) => Facade.handle(ex) { _ =>
      // string fields routed through the shared escaper (Facade's
      // every-hand-rendered-body contract): queryId/timestamp are
      // shape-safe TODAY, which is exactly when an unescaped
      // interpolation slips through review
      m.snapshot.map { b =>
        s"""{"query_id":"${graft.Jsons.escape(b.queryId)}","batch_id":${b.batchId},""" +
          s""""input_rows":${b.inputRows},"trigger_ms":${b.triggerMs},""" +
          s""""timestamp":"${graft.Jsons.escape(b.timestamp)}"}"""
      }.mkString("[", ",", "]")
    })
  }
  // maintenance posture of every store behind this intake — committed
  // partition counts (the compaction-cadence signal), commit frontier,
  // crash-recovery debt (pending folds/rewrites). Driver-side
  // directory listings only; no Spark job per request.
  server.createContext("/stores", (ex: HttpExchange) => Facade.handle(ex) { _ =>
    val intake = LivePipeline.storeStatus(spark, cfg).map(st => "intake" -> st)
    val idx = index.toSeq.flatMap(i => LivePipeline
      .storeStatusOf(spark, i.root, Seq("postings", "doclens", "tombstones"))
      .map("index" -> _))
    val vec = vectors.toSeq.flatMap(v => LivePipeline
      .storeStatusOf(spark, v.root, Seq("sigs", "tombstones")).map("vectors" -> _))
    (intake ++ idx ++ vec).map { case (plane, st) =>
      s"""{"plane":"$plane","store":"${graft.Jsons.escape(st.store)}",""" +
        s""""n_partitions":${st.nPartitions},""" +
        s""""last_batch":${st.lastBatch.fold("null")(_.toString)},""" +
        s""""pending_fold":${st.pendingFold},""" +
        s""""n_pending_rewrites":${st.nPendingRewrites}}"""
    }.mkString("[", ",", "]")
  })
  // The DP release API over the live day-count store
  // ([[graft.streaming.LiveRelease]]): `GET /release[?window=<w>]
  // [&as_of=<batch>]` answers the x47 continual release for
  // that window from the store's totals. Budget enforcement is LIVE
  // here, not advisory: when constructed with `releaseLedger`, every
  // request charges its window's ε = 1 through the charge-then-release
  // wrapper BEFORE any frame exists, and an exhausted budget answers
  // 429 with the refusal line — nothing computed, nothing released
  // (Facade maps DpLedger's IllegalStateException). Each request is a
  // NEW release (fresh salted noise by default — the production
  // contract), so each request is a new charge even for a window
  // already released: that is exactly the composed-release averaging
  // attack, and the ledger's cap is the defense (PrivacySpec).
  // The seeded (oracle-replayable) draw is SERVER construction config
  // (`releaseSeeded` — r17 advice closed): the old `seeded=1` query
  // param let any caller obtain a noise-predictable release of true
  // live counts — Laplace draws that are a deterministic function of
  // public strings, subtractable by anyone — while the ledger still
  // charged and labeled it ε=1, voiding the guarantee; and each seeded
  // re-read burned a fresh charge for a bit-identical body. A test
  // deployment opts in where the ledger and windows are configured,
  // never per request.
  release.foreach { rcfg =>
    server.createContext("/release", (ex: HttpExchange) => Facade.handle(ex) { p =>
      val window = p.getOrElse("window", "0").toInt
      // window whitelist from SERVER config (r17 review): every request
      // charges the shared persistent ledger irreversibly, so a typo'd
      // or hostile window value (window=999, window=-5) must be a 400
      // BEFORE the charge, never a burned budget + an all-zero-data
      // "release". The range is deployment config — public, like the
      // calendar epoch — so rejecting outside it leaks nothing. The
      // message spells the range as its elements (r17 advice: the old
      // hardcoded half-open "[start, end)" rendering misreported an
      // inclusive Range's own last element as unserved).
      require(releaseWindows.contains(window),
        s"window $window outside the served windows " +
          s"{${releaseWindows.mkString(", ")}}")
      val asOf = p.get("as_of").map(_.toLong).getOrElse(Long.MaxValue)
      Facade.arrayJson(graft.streaming.LiveRelease.release(spark, rcfg,
        window = window, seeded = releaseSeeded, ledger = releaseLedger,
        asOf = asOf))
    })
    // `GET /alert[?as_of=<batch>]` — the SVT question over the live
    // day-count store (x51 / [[graft.streaming.LiveRelease
    // .aboveThreshold]]): "has the daily volume crossed the server's
    // threshold yet, and when" — verdict rows only, never counts. One
    // request = one AboveThreshold STREAM = one ε charged through the
    // same ledger/429 contract as /release (64 questions for that one
    // ε — the reason a monitoring endpoint wants SVT and not 64 count
    // releases). This is the pull spelling for dashboards and probes.
    // The threshold is SERVER config (public, like the calendar epoch) —
    // client-supplied thresholds would turn budget charges into a free
    // parameter sweep.
    server.createContext("/alert", (ex: HttpExchange) => Facade.handle(ex) { p =>
      val asOf = p.get("as_of").map(_.toLong).getOrElse(Long.MaxValue)
      Facade.arrayJson(graft.streaming.LiveRelease.aboveThreshold(spark, rcfg,
        threshold = alertThreshold, seeded = releaseSeeded,
        ledger = releaseLedger, releaseId = "svt|http", asOf = asOf))
    })
    // `GET /histogram[?unit=user][&as_of=<batch>]` — the δ-licensed
    // stability release over the live cell stores (x54 event-level;
    // ?unit=user for the x55 user-level sibling): the UNKNOWN-domain
    // histogram for deployments whose key vocabulary is itself
    // sensitive. Every request is a new (ε = 1, δ) release charged as a
    // PAIR through the same ledger/429 contract — a server whose ledger
    // granted no deltaBudget answers 429 on the FIRST request, which is
    // the δ metering doing its job (r18 verdict #1), not a fault. δ and
    // capCells are SERVER config (public, like the threshold): a
    // client-supplied δ would let callers trade unmetered δ for ε.
    server.createContext("/histogram", (ex: HttpExchange) => Facade.handle(ex) { p =>
      val asOf = p.get("as_of").map(_.toLong).getOrElse(Long.MaxValue)
      val unit = p.getOrElse("unit", "event")
      require(unit == "event" || unit == "user",
        s"unit must be 'event' or 'user', got '$unit'")
      Facade.arrayJson(
        if (unit == "user")
          graft.streaming.LiveRelease.userHistogram(spark, rcfg,
            seeded = releaseSeeded, capCells = histogramCapCells,
            delta = histogramDelta, ledger = releaseLedger,
            releaseId = "user_hist|http", asOf = asOf)
        else
          graft.streaming.LiveRelease.stableHistogram(spark, rcfg,
            seeded = releaseSeeded, delta = histogramDelta,
            ledger = releaseLedger, releaseId = "stable_hist|http",
            asOf = asOf))
    })
    // `GET /subsampled[?mech=gauss][&as_of=<batch>]` — the amplified
    // releases (x56 Laplace; ?mech=gauss for the x60 Gaussian) over the
    // live KEPT-subsample stores. The sampling rate is SERVER config
    // (`subsampleQ`, public like the threshold): a client-supplied q
    // would sweep the amplification claim against one fixed sample.
    // Accounting per mechanism: the Laplace leg charges the amplified
    // ε' to the pair ledger; the Gaussian leg charges the (ε', δ') pair
    // — unless the server was constructed with an `rdpAccountant`, in
    // which case it charges the (q, σ) Rényi footprint instead (the
    // K-schedule spelling; read the running conversion at /rdp). Either
    // accountant's refusal answers the same 429.
    server.createContext("/subsampled", (ex: HttpExchange) => Facade.handle(ex) { p =>
      val asOf = p.get("as_of").map(_.toLong).getOrElse(Long.MaxValue)
      val mech = p.getOrElse("mech", "laplace")
      require(mech == "laplace" || mech == "gauss",
        s"mech must be 'laplace' or 'gauss', got '$mech'")
      Facade.arrayJson(
        if (mech == "gauss") rdpAccountant match {
          case Some(acc) =>
            graft.streaming.LiveRelease.subsampledGaussianRdp(spark, rcfg,
              acc, q = subsampleQ, seeded = releaseSeeded,
              releaseId = "subsampled_gauss_rdp|http", asOf = asOf)
          case None =>
            graft.streaming.LiveRelease.subsampledGaussian(spark, rcfg,
              q = subsampleQ, seeded = releaseSeeded,
              ledger = releaseLedger, releaseId = "subsampled_gauss|http",
              asOf = asOf)
        }
        else
          graft.streaming.LiveRelease.subsampledCount(spark, rcfg,
            q = subsampleQ, seeded = releaseSeeded, ledger = releaseLedger,
            releaseId = "subsampled_count|http", asOf = asOf))
    })
    // `GET /range[?as_of=<batch>]` — the x63 range-count release over
    // the live day-count store: 94 public range answers from one
    // noised dyadic tree, ONE ε per request through the same
    // ledger/429 contract as /release (the whole answer set is
    // post-processing of one node vector — that is the endpoint's
    // selling point vs 94 /release-shaped charges).
    server.createContext("/range", (ex: HttpExchange) => Facade.handle(ex) { p =>
      val asOf = p.get("as_of").map(_.toLong).getOrElse(Long.MaxValue)
      Facade.arrayJson(graft.streaming.LiveRelease.rangeRelease(spark, rcfg,
        seeded = releaseSeeded, ledger = releaseLedger,
        releaseId = "range_tree|http", asOf = asOf))
    })
    // `GET /local[?as_of=<batch>]` (when constructed with a
    // `localDomain`) — the x62 debiased frequency estimate from the
    // live report store. CHARGE-FREE BY DESIGN, the local model's
    // accounting on the wire: the ε was spent per record at the
    // ingest-time coin (the [[graft.streaming.LiveRelease.local]] family),
    // the store holds only ε-locally-private reports, and any reading
    // of them is post-processing — there is no budget left to refuse.
    // Domain and ε are SERVER config and must match the collector's
    // (the estimator's documented unit-error contract).
    if (localDomain.nonEmpty)
      server.createContext("/local", (ex: HttpExchange) => Facade.handle(ex) { p =>
        val asOf = p.get("as_of").map(_.toLong).getOrElse(Long.MaxValue)
        Facade.arrayJson(graft.streaming.LiveRelease.localFrequency(spark, rcfg,
          localDomain, localEps, asOf = asOf))
      })
  }
  // `GET /rdp` — the RDP accountant's audit readout (when constructed
  // with one): the (q, σ) registry with the running post-charge
  // conversion, plus the budget, δ target, and current spend as
  // columns. NO charge — the registry is public schedule state (the
  // DpLedger shippable-audit rationale: release ids and mechanism
  // parameters, never data), and reading a conversion of
  // already-charged releases releases nothing new (post-processing).
  rdpAccountant.foreach { acc =>
    server.createContext("/rdp", (ex: HttpExchange) => Facade.handle(ex) { _ =>
      Facade.arrayJson(acc.registry(spark)
        .withColumn("eps_budget", lit(acc.epsBudget.toDouble))
        .withColumn("delta_target", lit(acc.deltaTarget))
        .withColumn("eps_spent", lit(acc.spentEpsilon)))
    })
  }
  // `GET /encode?text=<words>[&model=pruned]` — the tokenizer serving
  // twin (when constructed with `tokenizer = Some(datasetDir)`): the
  // unigram model every gate trains (x57) finally has the surface a
  // tokenizer exists FOR — encode arbitrary text at request time. One
  // row per word position (pos, word, pieces, n_pieces); the fallback
  // for uncoverable words is x58's char-split rule, so a client
  // summing n_pieces reproduces the gate's accounting exactly. The
  // model side is the memoized vocab-sized store broadcast into a
  // query-sized Viterbi join — one bounded Spark job per request; the
  // first request on a fresh JVM pays the training memo (ingest-time
  // work, the x57 warmup argument). `model` selects refit (default)
  // or the x59 pruned model; anything else is a 400 before any job.
  tokenizer.foreach { tdir =>
    server.createContext("/encode", (ex: HttpExchange) => Facade.handle(ex) { p =>
      val model = p.getOrElse("model", "refit")
      require(model == "refit" || model == "pruned",
        s"model must be 'refit' or 'pruned', got '$model'")
      Facade.arrayJson(graft.operators.Unigram.encodeText(spark, tdir, p("text"),
        pruned = model == "pruned"))
    })
  }
  server.createContext("/snapshot", (ex: HttpExchange) => Facade.handle(ex) { p =>
    // what a training run pinned at ?as_of=<batch> would read: doc and
    // token totals per lang — the reproducible-corpus manifest
    val asOf = p.get("as_of").map(_.toLong).getOrElse(Long.MaxValue)
    Facade.arrayJson(LivePipeline.packedOutput(spark, cfg, asOf = asOf)
      .groupBy("lang").agg(count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).as("n_tokens"))
      .orderBy(col("lang")))
  })

  def start(): Unit = server.start()
  def stop(): Unit = server.stop(0)
}
