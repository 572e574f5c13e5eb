package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators._
import graft.pipeline._

/** Driver contract — one `queries` entry per implemented operator from
  * SURVEY.md §2, with DuckDB-oracle SQL where the semantics are
  * SQL-expressible (column names aligned; floats rounded to 6 digits on
  * both sides so libm last-ulp differences cannot flip the hash compare).
  */
object SparkEntry {

  private def T(s: SparkSession, dir: String, name: String): DataFrame =
    s.read.parquet(s"$dir/$name.parquet")

  /** Binary target used across the lineitem queries. */
  private def liTarget(df: DataFrame): DataFrame =
    df.withColumn("y", when(col("l_returnflag") === "R", 1.0).otherwise(0.0))

  private val liSplits = Array(25000.0, 50000.0, 75000.0)
  private val qtySplits = Array(10.0, 25.0, 40.0)
  /** Finer 8-band split for the deployment-analytics queries (gains /
    * threshold sweep), where 4 bands make a degenerate depth curve. */
  private val liSplits8 =
    Array(12500.0, 25000.0, 37500.0, 50000.0, 62500.0, 75000.0, 87500.0)
  /** The 8-band CASE in oracle SQL form (kept literal-identical to
    * `binIdx(col("l_extendedprice"), liSplits8)`). */
  private val liBand8Sql: String =
    liSplits8.zipWithIndex
      .map { case (sp, i) =>
        s"WHEN l_extendedprice < ${sp.toLong} THEN $i" }
      .mkString("CASE ", " ", s" ELSE ${liSplits8.length} END")

  /** Cumulative Poisson(1) CDF thresholds on the md5-uniform 32-bit
    * hex grid, k = 0..6 (the tail mass, ~8.3e-5, collapses to w=7 —
    * the standard truncated Poisson bootstrap): the only
    * transcendental (exp) is evaluated ONCE here on the driver and
    * shipped as the SAME 8-char lowercase-hex literals into both
    * engines — the logistic's shipped-constants discipline applied
    * to resampling. Fixed-width lowercase hex compares
    * lexicographically == numerically in Spark and DuckDB alike. */
  private val poissonCdfHex: IndexedSeq[String] = {
    var pk = StrictMath.exp(-1.0)
    var cdf = 0.0
    (0 to 6).map { k =>
      if (k > 0) pk = pk / k
      cdf += pk
      f"${math.floor(cdf * 4294967296.0).toLong}%08x"
    }
  }

  /** The bootstrap's distributed stage (everything before the
    * 32-row driver gate): broadcast replica spine, weight CASE
    * materialized ONCE per (row, replica) in a project below the
    * aggregate (inside the aggregate functions the md5 chain would
    * re-evaluate per branch per aggregate), exact integer sums.
    * Exposed so the plan-shape spec pins this stage directly. */
  private[graft] def bootstrapStats(s: SparkSession, dir: String,
                                    reps: Int): DataFrame = {
    val li = T(s, dir, "lineitem")
    val proj = li.where(col("l_extendedprice").isNotNull)
      .select(col("l_orderkey"), col("l_linenumber"),
              round(col("l_extendedprice") * 100).cast("long")
                .as("v"))
    // the reps-x md5 fan-out runs per INPUT SPLIT of the streamed
    // side: a single-file scan (the small-SF case) would serialize
    // 19M md5 rows onto one core (measured 20-80 s vs ~2 s wide).
    // Repartition the narrow 3-column projection only when the scan
    // yields fewer splits than cores — at real scale the scan is
    // already wide and no shuffle is added.
    val par = s.sparkContext.defaultParallelism
    val wide = if (proj.rdd.getNumPartitions < par)
      proj.repartition(par) else proj
    val base = wide
      .crossJoin(broadcast(
        s.range(reps.toLong).select(col("id").as("b"))))
    val key = concat(col("l_orderkey").cast("string"), lit(":"),
                     col("l_linenumber").cast("string"), lit(":"),
                     col("b").cast("string"))
    val h8 = substring(md5(key.cast("binary")), 1, 8)
    val w = poissonCdfHex.zipWithIndex
      .foldRight(lit(7L): Column) { case ((t, k), acc) =>
        when(h8 < lit(t), k.toLong).otherwise(acc)
      }
    base.select(col("b"), col("v"), w.as("w"))
      .groupBy("b")
      .agg(sum(col("w")).as("n_eff"),
           sum((col("w") * col("v")).cast("decimal(38,0)"))
             .cast("long").as("sum_cents"))
      .withColumn("mean_cents",
        when(col("n_eff") > 0,
          col("sum_cents").cast("double") /
            col("n_eff").cast("double")))
  }

  /** Pinned per-variable binning for the oracled scorecard queries:
    * user splits take the exact aggregation path, so the oracle can
    * re-derive every WoE from the raw data at the same literals. */
  private def scOverrides: Map[String, BinningConfig] = Map(
    "l_extendedprice" -> BinningConfig(name = "l_extendedprice",
      userSplits = Some(liSplits), monotonicTrend = None,
      minNBins = Some(4), maxNBins = Some(4)),
    "l_quantity" -> BinningConfig(name = "l_quantity",
      userSplits = Some(qtySplits), monotonicTrend = None,
      minNBins = Some(4), maxNBins = Some(4)))

  private def binIdx(x: Column, splits: Array[Double]): Column =
    splits.indices.foldRight(lit(splits.length): Column) { (i, acc) =>
      when(x < splits(i), lit(i)).otherwise(acc)
    }

  /** Pin FileStreamSource replay order for a staged stream: files
    * written in quick succession can TIE on a coarse-mtime filesystem
    * (the source orders candidates by modification time), so batch
    * `g`'s files are stamped a strictly increasing `base + g` seconds.
    * Stamps every regular file under `stage/b<g>` — the `_`-prefixed
    * markers are excluded from the scan by the source's hidden-file
    * filter anyway. */
  private[graft] def stampStageMtimes(stage: String, nBatches: Int): Unit = {
    import scala.jdk.CollectionConverters._
    val base = System.currentTimeMillis() - nBatches * 2000L
    (0 until nBatches).foreach { g =>
      java.nio.file.Files.walk(java.nio.file.Paths.get(s"$stage/b$g"))
        .iterator().asScala
        .filter(java.nio.file.Files.isRegularFile(_))
        .foreach(p => java.nio.file.Files.setLastModifiedTime(p,
          java.nio.file.attribute.FileTime
            .fromMillis(base + g * 1000L)))
    }
  }

  /** Throwaway staging/checkpoint dir for the streaming replays:
    * prefers the tmpfs at /dev/shm when present — checkpoint commits
    * are small-file fsync-bound, and on a disk-backed /tmp the host's
    * I/O jitter dominates the measured trigger time (observed 2-4x
    * swings). These dirs are deleted at the end of the query, so
    * durability is irrelevant; production checkpoints belong on
    * durable storage and do NOT use this helper. */
  private[graft] def tmpWorkDir(prefix: String): String = {
    val shm = java.nio.file.Paths.get("/dev/shm")
    val base =
      if (java.nio.file.Files.isDirectory(shm) &&
          java.nio.file.Files.isWritable(shm)) shm
      else java.nio.file.Paths.get(System.getProperty("java.io.tmpdir"))
    java.nio.file.Files.createTempDirectory(base, prefix).toString
  }

  /** Single-job batch staging (r12 optimization, guide §2.4 "remove
    * shuffles outright"): write the nBatches trigger files of a
    * staged replay in ONE pass — tag each row with its batch index
    * `gExpr`, shuffle once keyed on it (each batch value owns exactly
    * one task, so exactly one file per batch), sort within the task
    * by (batch, orderCols) and `write.partitionBy`. Replaces the
    * previous nBatches separate `where(p).repartition(1).write` jobs
    * — nBatches input scans and one-partition shuffles became one of
    * each. The partition dirs are then renamed to the `b<g>` layout
    * [[stampStageMtimes]] and the file stream expect (partitionBy
    * drops the tag from the file schema, matching the per-batch
    * writer's output). A batch value missing from the data gets a
    * zero-row fallback file so the trigger count — and with it the
    * watermark sequencing — is identical to the per-batch writer.
    * Rows whose gExpr is NULL are unstaged, exactly as they were
    * dropped by every per-batch predicate. Likewise a gExpr value
    * OUTSIDE [0, nBatches) lands in an un-renamed partition dir and is
    * silently dropped with the temp dir — callers must map every row
    * they want staged into the [0, nBatches) range. Batch composition
    * is identical by construction, so every stream result is
    * unchanged. */
  private[graft] def stageBatchesOnePass(df: DataFrame, gExpr: Column,
                                         nBatches: Int, stage: String,
                                         orderCols: Seq[String]): Unit = {
    val tmp = s"$stage/_onepass"
    df.withColumn("__g", gExpr.cast("int"))
      .repartition(nBatches, col("__g"))
      .sortWithinPartitions(col("__g") +: orderCols.map(col): _*)
      .write.mode("overwrite").partitionBy("__g").parquet(tmp)
    val stageP = java.nio.file.Paths.get(stage)
    (0 until nBatches).foreach { g =>
      val src = java.nio.file.Paths.get(s"$tmp/__g=$g")
      val dst = stageP.resolve(s"b$g")
      if (java.nio.file.Files.isDirectory(src)) {
        java.nio.file.Files.createDirectories(dst)
        import scala.jdk.CollectionConverters._
        // Files.list holds a directory fd until closed — one leaked fd
        // per staged batch per query adds up over a 259-query session
        val listing = java.nio.file.Files.list(src)
        val files =
          try listing.iterator().asScala
            .filter(_.getFileName.toString.startsWith("part-")).toSeq
          finally listing.close()
        files.foreach(p => java.nio.file.Files.move(
          p, dst.resolve(p.getFileName.toString)))
      } else {
        // empty batch: a zero-row file keeps the trigger count
        df.limit(0).coalesce(1).write.mode("overwrite")
          .parquet(dst.toString)
      }
    }
    deleteRecursively(tmp)
  }

  /** Stream state-partition count for the staged replays (was a
    * per-site literal 8). State partitioning is sized by STATE
    * breadth, not core count — the repo-wide pinned discipline — and
    * every contract stream creates a fresh checkpoint, so the value
    * binds per run. Parameterized (r13, VERDICT item 7) so the
    * state-commit share of the replay floor can be measured at
    * different widths without touching 8 call sites; results are
    * partition-count-independent (oracle-verified). */
  private[graft] val streamStatePartitions: String =
    sys.env.getOrElse("SPARK_GRAFT_STREAM_STATE_PARTITIONS", "8")

  /** Guard for the bounded-domain histogram collects of the exact-
    * logistic family (r13, VERDICT item 6): the one-scan rewrites
    * argue the (x⃗, y) cell histogram is bounded by the feature
    * DOMAIN (rounded qty ≤ ~50, disc-pct ≤ 11, 4×4 points), not the
    * data — but nothing enforced it, so a wider domain at scale would
    * silently collect an unbounded result to the driver. The
    * `limit(cap + 1)` bounds the transfer itself; the require makes
    * the violation loud instead of an OOM. */
  private[graft] val MaxHistogramCells = 10000
  private[graft] def collectBoundedCells(df: org.apache.spark.sql.DataFrame)
      : Array[org.apache.spark.sql.Row] = {
    val rows = df.limit(MaxHistogramCells + 1).collect()
    require(rows.length <= MaxHistogramCells,
      s"domain-bounded histogram exceeded $MaxHistogramCells cells — " +
      "the bounded-driver-collect precondition does not hold for this " +
      "data; fit from the distributed table instead")
    rows
  }

  /** Staged time-ordered stream replay, the shared harness of the
    * single-input streaming queries: split `ev` into three event-time
    * thirds, stage them as separate files with strictly increasing
    * mtimes (replay order pinned), run `xform` over the
    * one-file-per-trigger parquet stream into an append-mode memory
    * sink at 8 shuffle partitions, drain, then hand the drained table
    * to `finish` before tearing everything down. Any fix to the
    * replay discipline lives HERE once, not per query. */
  /** Bind the RocksDB state-store provider around a streaming
    * `start()` when `SPARK_GRAFT_STATESTORE=rocksdb` — one switch
    * flips EVERY stateful driver-contract stream (sessionization,
    * as-of, top-k, heavy hitters, KMV distinct, windowed aggs,
    * dedup, seasonal) off the on-heap HDFS-backed store. Results are
    * provider-independent (the oracle gate passes under both stores);
    * the provider binds at checkpoint creation, and every contract
    * stream creates a fresh checkpoint, so the flag is safe to toggle
    * between runs. */
  private[graft] def withConfiguredStateStore[T](s: SparkSession)
                                                (body: => T): T =
    if (sys.env.get("SPARK_GRAFT_STATESTORE").contains("rocksdb"))
      graft.streaming.StreamingSessionize.withStateStoreProvider(
        s, graft.streaming.StreamingSessionize.RocksDBProvider)(body)
    else body

  private def replayThirds(s: SparkSession, ev: org.apache.spark.sql.DataFrame,
                           tsColName: String, schemaStr: String,
                           prefix: String)
                          (xform: org.apache.spark.sql.DataFrame =>
                                  org.apache.spark.sql.DataFrame)
                          (finish: org.apache.spark.sql.DataFrame =>
                                   Seq[org.apache.spark.sql.Row])
      : Seq[org.apache.spark.sql.Row] = {
    val Array(mnR, mxR) = ev
      .agg(min(col(tsColName).cast("long")),
           max(col(tsColName).cast("long")))
      .collect()(0).toSeq.map(_.asInstanceOf[Long]).toArray
    val (b1, b2) = (mnR + (mxR - mnR) / 3, mnR + 2 * ((mxR - mnR) / 3))
    val stage = tmpWorkDir(s"${prefix}_stage")
    val tsSec = col(tsColName).cast("long")
    // one staging job (was 3 scan+shuffle+write jobs); a NULL ts maps
    // to a NULL batch tag = unstaged, as the 3 predicates dropped it
    stageBatchesOnePass(ev,
      when(tsSec < b1, 0).when(tsSec < b2, 1)
        .when(tsSec >= b2, 2),
      3, stage, Seq(tsColName))
    stampStageMtimes(stage, 3)
    val ckpt = tmpWorkDir(s"${prefix}_ckpt")
    val stream = s.readStream
      .schema(schemaStr)
      .option("maxFilesPerTrigger", 1)
      .option("recursiveFileLookup", "true")
      .parquet(stage)
    val out = xform(stream)
    val oldSp = s.conf.get("spark.sql.shuffle.partitions")
    val q = try {
      s.conf.set("spark.sql.shuffle.partitions", streamStatePartitions)
      withConfiguredStateStore(s) {
        out.writeStream.outputMode("append")
          .format("memory").queryName(prefix)
          .option("checkpointLocation", ckpt)
          .start()
      }
    } finally s.conf.set("spark.sql.shuffle.partitions", oldSp)
    q.processAllAvailable()
    q.stop()
    val rows = finish(s.table(prefix))
    s.catalog.dropTempView(prefix)
    deleteRecursively(stage)
    deleteRecursively(ckpt)
    rows
  }

  /** Recursive delete for the throwaway /tmp staging dirs. */
  private[graft] def deleteRecursively(dir: String): Unit = {
    import scala.jdk.CollectionConverters._
    java.nio.file.Files.walk(java.nio.file.Paths.get(dir)).iterator()
      .asScala.toSeq.reverse.foreach(java.nio.file.Files.delete)
  }

  /** Pin a solver-derived vector for oracle literals: 8 significant
    * digits plus a vector-relative zero floor. Distributed float sums
    * carry ~1e-12 relative accumulation-order noise that varies with
    * the partition count, so full-precision pins would not reproduce
    * across Spark configurations; 8 digits is far above the noise and
    * far below every rounding threshold the value outputs use. The
    * floor zeroes coefficients that are pure noise around an active
    * constraint (e.g. a monotone QP slope of ~1e-15). */
  private def pinVec(vs: Array[Double]): Array[Double] = {
    val floor = vs.map(math.abs).max * 1e-11
    vs.map { v =>
      if (math.abs(v) <= floor) 0.0
      else BigDecimal(v).round(new java.math.MathContext(8)).toDouble
    }
  }

  /** Round-10 exact piecewise specs: knots are PINNED INPUTS (like
    * userSplits); the l2 solve derives from data identically in both
    * engines via [[graft.core.ExactFit]]'s shared expression IR, so
    * the pw oracles replay at ANY SF (de-pinned). */
  private val pwContSpec = graft.core.ExactFit.PWSpec(
    Array(23.5, 47.5), 10L, 100L, 512.0, None)
  private val pwMonoSpec = graft.core.ExactFit.PWSpec(
    Array(23.5, 47.5), 10L, 100L, 512.0, Some("ascending"))
  private val pwRateSpec = graft.core.ExactFit.PWSpec(
    Array(25000.0, 50000.0, 75000.0), 100L, 1L, 8388608.0, None)
  private val pwWhereQty =
    " WHERE l_quantity IS NOT NULL AND l_extendedprice IS NOT NULL"

  /** The deployed 2D model's grid (q_2d_deploy + its streaming twin):
    * 4x4 CASE bins over (price, qty) at the pinned user splits. */
  private def grid2dXb: Column =
    when(col("l_extendedprice") < liSplits(0), 0)
      .when(col("l_extendedprice") < liSplits(1), 1)
      .when(col("l_extendedprice") < liSplits(2), 2).otherwise(3)
  private def grid2dYb: Column =
    when(col("l_quantity") < qtySplits(0), 0)
      .when(col("l_quantity") < qtySplits(1), 1)
      .when(col("l_quantity") < qtySplits(2), 2).otherwise(3)

  /** Per-rectangle deployment stats over a `(xb, yb, cn, cev)` cell
    * table — the shared back half of q_2d_deploy (distributed cells)
    * and q_stream_2d (incrementally accumulated cells): broadcast
    * layout join, per-rect tallies, WoE/IV via bounded-window totals
    * (ONE pass over the <= 16-row cell table). */
  private def rects2dDeploy(s: SparkSession,
                            cells: DataFrame): DataFrame = {
    import s.implicits._
    val rects = Seq(
      ("x0-2:y0-2", 0, 2, 0, 2), ("x0-2:y2-4", 0, 2, 2, 4),
      ("x2-4:y0-1", 2, 4, 0, 1), ("x2-3:y1-4", 2, 3, 1, 4),
      ("x3-4:y1-3", 3, 4, 1, 3), ("x3-4:y3-4", 3, 4, 3, 4))
      .toDF("rect", "rx1", "rx2", "ry1", "ry2")
    val byRect = cells
      .join(broadcast(rects),
            col("xb") >= col("rx1") && col("xb") < col("rx2") &&
            col("yb") >= col("ry1") && col("yb") < col("ry2"))
      .groupBy("rect")
      .agg(sum("cn").as("n"), sum("cev").as("event"))
      .withColumn("nonevent", col("n") - col("event"))
    // totals via a bounded window over the <= 6-row rect table —
    // ONE source scan (a crossJoin-with-agg branch would re-derive
    // the whole subtree: a second 100-TB scan)
    val p = col("event").cast("double") / col("tev")
    val q = col("nonevent").cast("double") / col("tne")
    val ok = col("event") >= 1 && col("nonevent") >= 1
    byRect
      .withColumn("tev", sum("event")
                    .over(graft.core.Windows.boundedAll)
                    .cast("double"))
      .withColumn("tne", sum("nonevent")
                    .over(graft.core.Windows.boundedAll)
                    .cast("double"))
      .select(col("rect"), col("n"), col("event"), col("nonevent"),
              round(when(ok, log(q / p)).otherwise(0.0), 6)
                .as("woe6"),
              round(when(ok, (p - q) * log(p / q)).otherwise(0.0), 6)
                .as("iv6"))
      .orderBy("rect")
  }
  private val pwWherePrice = " WHERE l_extendedprice IS NOT NULL"

  /** Attribution model config (round 10): the events table's
    * non-conversion channels in fixed order; journeys are (user, day)
    * sessions, conversion = purchase. */
  private val attrChannels = Seq("click", "error", "signup", "view")
  private val attrKeySql =
    "user_id::VARCHAR || '_' || (ts::DATE)::VARCHAR"
  // portable one-permutation minhash (rk131 shingle hashes, 32 slots,
  // global-min densify) + 8 string band keys + full pair expansion --
  // bit-exact with MinHashSigExpr portable + lshBandsPortable; shared
  // VERBATIM by q_minhash_bands and its incremental streaming twin
  // q_stream_neardup (stream == batch by construction)
  private val minhashBandsOracle: String =
    """WITH n AS (
           SELECT doc_id,
                  [unicode(c)::BIGINT FOR c IN regexp_extract_all(
                     regexp_replace(lower(trim(text)), '\s+', ' ', 'g'),
                     '(?s).')] AS cps
           FROM documents),
         hs AS (
           SELECT doc_id,
                  CASE WHEN len(cps) < 5
                       THEN [list_reduce(list_prepend(0::BIGINT, cps),
                              (a, b) -> ((a * 131) + b) % 1000000007)]
                       ELSE [list_reduce(list_prepend(0::BIGINT,
                               cps[i:i+4]),
                              (a, b) -> ((a * 131) + b) % 1000000007)
                             FOR i IN range(1, len(cps) - 3)]
                  END AS hs
           FROM n),
         sigs AS (
           SELECT doc_id,
                  [coalesce(list_min(list_filter(hs,
                              h -> (h % 32) = j)),
                            list_min(hs))
                   FOR j IN range(0, 32)] AS sig
           FROM hs),
         bnd AS (
           SELECT doc_id, b.b AS band,
                  array_to_string(sig[b.b*4+1 : b.b*4+4], ',') AS key
           FROM sigs, (SELECT unnest(range(0, 8)) AS b) b),
         bsz AS (
           SELECT doc_id, band, key,
                  count(*) OVER (PARTITION BY band, key) AS n,
                  min(doc_id) OVER (PARTITION BY band, key) AS bmin
           FROM bnd),
         cand AS (
           -- star-expansion guard replay: buckets larger than 256 pair
           -- every member with the bucket minimum only
           SELECT DISTINCT x.doc_id AS id_a, y.doc_id AS id_b, x.band
           FROM bsz x JOIN bsz y
             ON x.band = y.band AND x.key = y.key
                AND x.doc_id < y.doc_id
           WHERE x.n <= 256 OR x.doc_id = x.bmin)
         SELECT count(*) AS n_candidate_pairs,
                count(DISTINCT id_a) AS n_left_docs
         FROM cand"""

  // pinned LAYOUT (constants in both engines), stats re-derived from
  // raw rows — replays at ANY SF; shared VERBATIM by q_2d_deploy and
  // its incremental streaming twin q_stream_2d (cells are an
  // additive monoid, stream == batch by construction)
  private val deploy2dOracle: String =
    """WITH b AS (
           SELECT CASE WHEN l_extendedprice < 25000 THEN 0
                       WHEN l_extendedprice < 50000 THEN 1
                       WHEN l_extendedprice < 75000 THEN 2
                       ELSE 3 END AS xb,
                  CASE WHEN l_quantity < 10 THEN 0
                       WHEN l_quantity < 25 THEN 1
                       WHEN l_quantity < 40 THEN 2
                       ELSE 3 END AS yb,
                  CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS y
           FROM lineitem),
         cells AS (
           SELECT xb, yb, count(*) AS cn, sum(y) AS cev
           FROM b GROUP BY 1, 2),
         r(rect, rx1, rx2, ry1, ry2) AS (
           VALUES ('x0-2:y0-2', 0, 2, 0, 2),
                  ('x0-2:y2-4', 0, 2, 2, 4),
                  ('x2-4:y0-1', 2, 4, 0, 1),
                  ('x2-3:y1-4', 2, 3, 1, 4),
                  ('x3-4:y1-3', 3, 4, 1, 3),
                  ('x3-4:y3-4', 3, 4, 3, 4)),
         agg AS (
           SELECT rect, sum(cn)::BIGINT AS n,
                  sum(cev)::BIGINT AS event,
                  (sum(cn) - sum(cev))::BIGINT AS nonevent
           FROM cells JOIN r
             ON xb >= rx1 AND xb < rx2 AND yb >= ry1 AND yb < ry2
           GROUP BY 1),
         t AS (SELECT sum(event) AS tev, sum(nonevent) AS tne
               FROM agg)
         SELECT rect, n, event, nonevent,
                round(CASE WHEN event >= 1 AND nonevent >= 1
                       THEN ln((nonevent::DOUBLE / tne) /
                               (event::DOUBLE / tev)) ELSE 0.0 END, 6)
                  AS woe6,
                round(CASE WHEN event >= 1 AND nonevent >= 1
                       THEN (event::DOUBLE / tev -
                             nonevent::DOUBLE / tne) *
                            ln((event::DOUBLE / tev) /
                               (nonevent::DOUBLE / tne))
                       ELSE 0.0 END, 6) AS iv6
         FROM agg, t ORDER BY rect"""

  private lazy val logregOracle: String =
    s"""WITH ${graft.core.ExactLogit.oracleCtes(
           "lineitem", "round(l_quantity)",
           "CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END",
           " WHERE l_quantity IS NOT NULL", iters = 3)}
       SELECT mt4.n AS n, bt3.b0 AS beta0, bt3.b1 AS beta_qty,
              mt4.smu::BIGINT AS sum_mu_q24
       FROM bt3, mt4"""

  private lazy val linregOracle: String = {
    val spec = graft.core.ExactFit.OLSSpec(
      Seq(1L, 10L), 1L, Seq(8.0, 4096.0))
    s"""WITH po AS MATERIALIZED (
         SELECT l_orderkey, count(*) AS cnt,
                sum(l_quantity) AS sq,
                sum(CAST(round(l_extendedprice * 100) AS BIGINT))
                  AS cents
         FROM lineitem
         WHERE l_quantity IS NOT NULL
           AND l_extendedprice IS NOT NULL
         GROUP BY 1),
       ${graft.core.ExactFit.olsCtes(spec, "po",
           Seq("cnt", "sq"), "cents")}
       SELECT om.n::BIGINT AS n,
              round((of.w_a / 1.0) / 100.0, 4) AS intercept4,
              round(((of.w_b0 * 1.0) / 1.0) / 100.0, 4) AS b_lines4,
              round(((of.w_b1 * 10.0) / 1.0) / 100.0, 4) AS b_qty4,
              round(of.w_r2, 6) AS r2_6
       FROM of, om"""
  }

  private lazy val pwQuadraticOracle: String = {
    val spec = graft.core.ExactFit.OLSSpec(
      Seq(1L, 1L, 1L, 1L), 100L,
      Seq(256.0, 65536.0, 32768.0, 512.0))
    val x = "CAST(round(l_quantity * 10) AS BIGINT)"
    val basis = Seq(
      x, s"($x * $x)",
      s"(greatest(0, $x - 235) * greatest(0, $x - 235))",
      s"(greatest(0, $x - 475) * greatest(0, $x - 475))")
    def curve(x0: Long): String = {
      val b = Seq(x0, x0 * x0,
                  math.max(0L, x0 - 235L) * math.max(0L, x0 - 235L),
                  math.max(0L, x0 - 475L) * math.max(0L, x0 - 475L))
      val terms = b.zipWithIndex
        .map { case (v, i) => s"of.w_b$i * $v.0" }.mkString(" + ")
      s"((of.w_a + $terms) / 100.0)"
    }
    s"""WITH ${graft.core.ExactFit.olsCtes(spec, "lineitem", basis,
           "l_extendedprice", pwWhereQty)}
       SELECT round(of.w_a / 100.0, 4) AS intercept4,
              round(${curve(100L)}, 4) AS at_qty10,
              round(${curve(300L)}, 4) AS at_qty30,
              round(${curve(500L)}, 4) AS at_qty50,
              round(of.w_r2, 6) AS r2_6
       FROM of"""
  }

  private lazy val linregWeightedOracle: String = {
    val spec = graft.core.ExactFit.OLSSpec(
      Seq(1L, 10L), 1L, Seq(8.0, 4096.0))
    val specRidge = spec.copy(ridgeLambda = 1000.0)
    // one weighted-moment CTE (om), TWO layered solve programs over
    // it: plain (of) and ridge (rf) — exactly the engine's
    // one-aggregate-two-solves shape
    s"""WITH po AS MATERIALIZED (
         SELECT l.l_orderkey, l.cnt, l.sq, l.cents,
                CASE WHEN o.o_orderpriority = '1-URGENT' THEN 3
                     WHEN o.o_orderpriority = '2-HIGH' THEN 2
                     ELSE 1 END AS w
         FROM (
           SELECT l_orderkey, count(*) AS cnt,
                  sum(l_quantity) AS sq,
                  sum(CAST(round(l_extendedprice * 100) AS BIGINT))
                    AS cents
           FROM lineitem
           WHERE l_quantity IS NOT NULL
             AND l_extendedprice IS NOT NULL
           GROUP BY 1) l
         JOIN orders o ON l.l_orderkey = o.o_orderkey),
       ${graft.core.ExactFit.olsCtesWeighted(spec, "po",
           Seq("cnt", "sq"), "cents", "w")},
       ${graft.core.ExactFit.layeredCtes(
           graft.core.ExactFit.olsProgram(specRidge), "om", "rl", "rf")}
       SELECT om.n::BIGINT AS w_total,
              round((of.w_a / 1.0) / 100.0, 4) AS intercept4,
              round(((of.w_b0 * 1.0) / 1.0) / 100.0, 4) AS b_lines4,
              round(((of.w_b1 * 10.0) / 1.0) / 100.0, 4) AS b_qty4,
              round(of.w_r2, 6) AS r2_6,
              round((rf.w_a / 1.0) / 100.0, 4) AS ridge_intercept4,
              round(((rf.w_b0 * 1.0) / 1.0) / 100.0, 4)
                AS ridge_b_lines4,
              round(((rf.w_b1 * 10.0) / 1.0) / 100.0, 4)
                AS ridge_b_qty4,
              round(rf.w_r2, 6) AS ridge_r2_6
       FROM of, rf, om"""
  }

  private lazy val markovAttributionOracle: String = {
    val ctes = MarkovAttribution.removalOracleCtes(
      "events", attrKeySql, "event_type", "ts", "event_id",
      attrChannels, "purchase")
    val sel = attrChannels.zipWithIndex.map { case (c, i) =>
      s"SELECT '$c' AS channel, round(kf.base_conv, 6) AS " +
      s"base_conv6, round(kf.eff_${i + 1}, 6) AS effect6, " +
      s"round(kf.share_${i + 1}, 6) AS share6 FROM kf"
    }.mkString("\nUNION ALL\n")
    s"WITH $ctes\n$sel ORDER BY channel"
  }

  /** Flagship: full optimal-binning fit (CART prebinning + DP solve) on
    * sf0.001 lineitem, returning the binning table. */
  def entry(spark: SparkSession): DataFrame = {
    val li = liTarget(T(spark, "/root/testdata/sf0.001", "lineitem"))
    val fitted = OptimalBinning.fit(li, "l_extendedprice", "y",
                                    BinningConfig(name = "l_extendedprice"))
    import spark.implicits._
    fitted.table.rows.toSeq.toDF()
  }

  /** The declared query surface. Cache contract: several query
    * functions persist query-internal intermediates (graph edge
    * caches, dedup candidate/truth tables, set-sim slivers) that are
    * consumed by multiple actions of the SAME invocation. The bench
    * and Verify harnesses release them with
    * `spark.catalog.clearCache()` after each invocation; direct API
    * callers own the same release step (or unpersist the upstream
    * frames) — repeated invocations without it accumulate cached
    * relations. */
  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // --- §2.2 projections / filters ---------------------------------
    "q_split_classes" -> ((s, dir) => {
      // missing/special row classification; x = nullif(l_quantity, 50)
      // with special codes {1, 2}
      val df = T(s, dir, "lineitem")
        .withColumn("x", nullif(col("l_quantity"), lit(50.0)))
      val cls = Preprocess.rowClass(col("x"), isNumeric = true,
                                    Some(SpecialList(Seq(1.0, 2.0))))
      df.select(cls.as("cls"))
        .groupBy("cls").agg(count(lit(1)).as("n"))
        .orderBy("cls")
    }),

    "q_cat_others_cutoff" -> ((s, dir) => {
      // categorical cutoff: brands with freq < 4% -> others
      val p = T(s, dir, "part")
      val total = p.count()
      p.groupBy("p_brand").agg(count(lit(1)).as("n"))
        .withColumn("is_others",
          (col("n") / lit(total.toDouble) < 0.04).cast("int"))
        .orderBy("p_brand")
    }),

    "q_cat_rate_order" -> ((s, dir) => {
      // categorical ordinalization: order categories by event rate
      val o = T(s, dir, "orders")
        .withColumn("y", when(col("o_orderstatus") === "F", 1.0)
          .otherwise(0.0))
      val agg = o.groupBy("o_orderpriority")
        .agg(count(lit(1)).as("n"), round(avg("y"), 6).as("event_rate"))
      agg.withColumn("ordinal",
          row_number().over(graft.core.Windows.bounded(
            col("event_rate"), col("o_orderpriority"))) - 1)
        .orderBy("ordinal")
    }),

    "q_outlier_iqr" -> ((s, dir) => {
      // IQR (ETI) outlier bounds + inlier/outlier counts
      val li = T(s, dir, "lineitem")
      val b = Outliers.fitRange(li, "l_extendedprice")
      li.agg(
        round(lit(b.lower), 6).as("lower_bound"),
        round(lit(b.upper), 6).as("upper_bound"),
        sum(b.support(col("l_extendedprice")).cast("long")).as("n_outliers"),
        sum(b.keep(col("l_extendedprice")).cast("long")).as("n_inliers"))
    }),

    "q_outlier_zscore" -> ((s, dir) => {
      // modified Z-score outliers on o_totalprice
      val o = T(s, dir, "orders")
      val pred = Outliers.fitZScore(o, "o_totalprice")
      o.agg(sum(pred.cast("long")).as("n_outliers"),
            count(lit(1)).as("n"))
    }),

    "q_outlier_hdi" -> ((s, dir) => {
      // HDI (shortest-interval) outlier bounds + counts
      val li = T(s, dir, "lineitem")
      val b = Outliers.fitRange(li, "l_extendedprice", method = "HDI")
      li.agg(
        round(lit(b.lower), 6).as("lower_bound"),
        round(lit(b.upper), 6).as("upper_bound"),
        sum(b.support(col("l_extendedprice")).cast("long")).as("n_outliers"),
        count(lit(1)).as("n"))
    }),

    "q_reg_metrics" -> ((s, dir) => {
      // regression metrics in one aggregate (pred = deterministic proxy)
      val li = T(s, dir, "lineitem")
        .withColumn("pred", col("l_quantity") * 1000.0)
      val m = ModelMetrics.regressionMetrics(li, "l_extendedprice", "pred")
      import s.implicits._
      Seq((scale2(m("Mean absolute error")),
           scale2(m("Median absolute error")),
           scale6(m("Mean absolute percentage error")),
           scale6(m("Mean percentage error")),
           scale6(m("Symmetric mean absolute percentage error")),
           scale6(m("Symmetric median absolute percentage error")),
           scale6(m("R^2"))))
        .toDF("mae", "mdae", "mape", "mpe", "smape", "smdape", "r2")
    }),

    "q_class_metrics" -> ((s, dir) => {
      // confusion-count classification metrics (threshold predictor)
      val li = liTarget(T(s, dir, "lineitem"))
        .withColumn("pred",
          (col("l_extendedprice") > 50000).cast("double"))
      val m = ModelMetrics.imbalancedClassificationMetrics(li, "y", "pred")
      import s.implicits._
      Seq((scale6(m("True positive rate")),
           scale6(m("True negative rate")),
           scale6(m("Balanced accuracy"))))
        .toDF("tpr", "tnr", "balanced_acc")
    }),

    "q_yquantile_outlier" -> ((s, dir) => {
      // per-x-quantile-bin modified-Z outlier removal on y
      val li = T(s, dir, "lineitem")
      val pred = Outliers.fitYQuantile(li, "l_extendedprice", "l_quantity",
                                       detector = "zscore", nBins = 4)
      li.agg(sum(pred.cast("long")).as("n_outliers"),
             count(lit(1)).as("n"))
    }),

    // --- §2.4 aggregations ------------------------------------------
    "q_prebin_agg" -> ((s, dir) => {
      // per-bin weighted event/nonevent counts at fixed splits
      val li = liTarget(T(s, dir, "lineitem"))
      li.groupBy(binIdx(col("l_extendedprice"), liSplits).as("bin"))
        .agg(sum(when(col("y") === 0.0, 1L).otherwise(0L)).as("nonevent"),
             sum(when(col("y") === 1.0, 1L).otherwise(0L)).as("event"))
        .orderBy("bin")
    }),

    "q_binning_table" -> ((s, dir) => {
      // full binary binning table via the library (user splits, no
      // trend; bin count pinned so the solve keeps every split at any
      // scale factor — the oracle enumerates exactly these bins)
      val li = liTarget(T(s, dir, "lineitem"))
      val fitted = OptimalBinning.fit(li, "l_extendedprice", "y",
        BinningConfig(name = "l_extendedprice",
                      userSplits = Some(liSplits), monotonicTrend = None,
                      minNBins = Some(4), maxNBins = Some(4)))
      import s.implicits._
      fitted.table.rows.take(fitted.nDataBins).zipWithIndex.map {
        case (r, i) =>
          (i.toLong, r.count.toLong, r.nonevent.toLong, r.event.toLong,
           scale6(r.eventRate), scale6(r.woe), scale6(r.iv))
      }.toSeq.toDF("bin", "count", "nonevent", "event", "event_rate",
                   "woe", "iv").orderBy("bin")
    }),

    "q_weighted_fit" -> ((s, dir) => {
      // sample_weight support (`binning.py:538-562` fit(x, y,
      // sample_weight)): weighted per-bin counts/rates/WoE at pinned
      // splits, weight = l_quantity (integral, so the weighted sums are
      // exact in both engines)
      val li = liTarget(T(s, dir, "lineitem"))
      val fitted = OptimalBinning.fit(li, "l_extendedprice", "y",
        BinningConfig(name = "l_extendedprice",
                      userSplits = Some(liSplits), monotonicTrend = None,
                      minNBins = Some(4), maxNBins = Some(4)),
        weightCol = Some("l_quantity"))
      import s.implicits._
      fitted.table.rows.take(fitted.nDataBins).zipWithIndex.map {
        case (r, i) =>
          (i.toLong, r.count.toLong, r.nonevent.toLong, r.event.toLong,
           scale6(r.eventRate), scale6(r.woe))
      }.toSeq.toDF("bin", "count", "nonevent", "event", "event_rate",
                   "woe").orderBy("bin")
    }),

    "q_cont_table" -> ((s, dir) => {
      // continuous binning table via the library (user splits, no trend)
      val li = T(s, dir, "lineitem")
      val fitted = ContinuousOptimalBinning.fit(li, "l_quantity",
        "l_extendedprice",
        BinningConfig(name = "l_quantity",
                      userSplits = Some(Array(10.0, 25.0, 40.0)),
                      monotonicTrend = None))
      import s.implicits._
      fitted.table.rows.take(fitted.nDataBins).zipWithIndex.map {
        case (r, i) =>
          (i.toLong, r.count.toLong, scale6(r.sum), scale6(r.mean),
           scale6(r.std), scale6(r.min), scale6(r.max), r.zerosCount.toLong)
      }.toSeq.toDF("bin", "count", "sum", "mean", "std", "min", "max",
                   "zeros").orderBy("bin")
    }),

    // --- §2.12 transform --------------------------------------------
    "q_woe_transform" -> ((s, dir) => {
      // per-row WoE transform (generated CASE chain); bin count pinned
      // as in q_binning_table so the fit matches the oracle at any SF
      val li = liTarget(T(s, dir, "lineitem"))
      val fitted = OptimalBinning.fit(li, "l_extendedprice", "y",
        BinningConfig(name = "l_extendedprice",
                      userSplits = Some(liSplits), monotonicTrend = None,
                      minNBins = Some(4), maxNBins = Some(4)))
      li.select(col("l_orderkey"), col("l_linenumber").cast("long")
          .as("l_linenumber"),
        round(fitted.transform(col("l_extendedprice")), 6).as("woe"))
        .orderBy("l_orderkey", "l_linenumber")
    }),

    // --- §2.5 ordered analytics -------------------------------------
    "q_ks_gini" -> ((s, dir) => {
      // KS and Gini over the fixed-split bin table
      val li = liTarget(T(s, dir, "lineitem"))
      val agg = li.groupBy(binIdx(col("l_extendedprice"), liSplits)
          .as("bin"))
        .agg(sum(when(col("y") === 0.0, 1.0).otherwise(0.0)).as("ne"),
             sum(when(col("y") === 1.0, 1.0).otherwise(0.0)).as("ev"))
        .collect()
      val ne = agg.sortBy(_.getInt(0)).map(_.getDouble(1))
      val ev = agg.sortBy(_.getInt(0)).map(_.getDouble(2))
      val ks = ModelMetrics.giniKs(ev, ne)._2
      val gini = graft.core.Metrics.gini(ev, ne)
      import s.implicits._
      Seq((scale6(ks), scale6(gini))).toDF("ks", "gini")
    }),

    // --- §2.8 statistical tests (binning-table analysis() surface) ---
    "q_chi2_adjacent" -> ((s, dir) => {
      // adjacent-bin Pearson chi2 (no correction) + Cramer's V on the
      // fixed-split binary table (`binning_statistics.py` analysis()
      // semantics via Stats.chi2CramerV)
      val li = liTarget(T(s, dir, "lineitem"))
      val agg = li.groupBy(binIdx(col("l_extendedprice"), liSplits)
          .as("bin"))
        .agg(sum(when(col("y") === 0.0, 1.0).otherwise(0.0)).as("ne"),
             sum(when(col("y") === 1.0, 1.0).otherwise(0.0)).as("ev"))
        .collect().sortBy(_.getInt(0))
      val ne = agg.map(_.getDouble(1))
      val ev = agg.map(_.getDouble(2))
      import s.implicits._
      (0 until ne.length - 1).map { i =>
        val (t, cv) = graft.core.Stats.chi2CramerV(
          Array(ne(i), ne(i + 1)), Array(ev(i), ev(i + 1)))
        (i.toLong, scale6(t), scale6(cv))
      }.toDF("pair", "chi2", "cramer_v").orderBy("pair")
    }),

    "q_welch_adjacent" -> ((s, dir) => {
      // adjacent-bin Welch t (equal_var=False, from summary stats) on the
      // continuous table (`model_data.py:75-90` via ttestIndFromStats)
      val li = T(s, dir, "lineitem")
      val agg = li.groupBy(binIdx(col("l_quantity"),
                                  Array(10.0, 25.0, 40.0)).as("bin"))
        .agg(count(lit(1)).cast("double").as("n"),
             avg("l_extendedprice").as("mean"),
             stddev_pop(col("l_extendedprice")).as("std"))
        .collect().sortBy(_.getInt(0))
      val n = agg.map(_.getDouble(1))
      val u = agg.map(_.getDouble(2))
      val sd = agg.map(_.getDouble(3))
      import s.implicits._
      (0 until n.length - 1).map { i =>
        val (t, _) = graft.core.Stats.ttestIndFromStats(
          u(i), sd(i), n(i), u(i + 1), sd(i + 1), n(i + 1))
        val vn1 = sd(i) * sd(i) / n(i)
        val vn2 = sd(i + 1) * sd(i + 1) / n(i + 1)
        val dof = (vn1 + vn2) * (vn1 + vn2) /
          (vn1 * vn1 / (n(i) - 1) + vn2 * vn2 / (n(i + 1) - 1))
        (i.toLong, scale6(t), scale6(dof))
      }.toDF("pair", "t", "dof").orderBy("pair")
    }),

    "q_divergences" -> ((s, dir) => {
      // Jeffrey / Jensen-Shannon / Hellinger / triangular divergences
      // between two date-cohort bin distributions (`metrics.py:107-253`
      // via core.Metrics)
      val o = T(s, dir, "orders")
      val cutoff = lit("1998-01-01").cast("timestamp")
      val bin = binIdx(col("o_totalprice"),
                       Array(100000.0, 200000.0, 300000.0))
      def dist(df: DataFrame): Array[Double] = {
        val m = df.groupBy(bin.as("bin")).agg(count(lit(1)).as("n"))
          .collect().map(r => r.getInt(0) -> r.getLong(1).toDouble).toMap
        val v = (0 to 3).map(b => m.getOrElse(b, 0.0)).toArray
        val t = v.sum
        v.map(_ / t)
      }
      val p = dist(o.where(col("o_orderdate") < cutoff))
      val q = dist(o.where(col("o_orderdate") >= cutoff))
      import graft.core.Metrics
      import s.implicits._
      Seq((scale6(Metrics.jeffreySum(p, q)),
           scale6(Metrics.jensenShannonSum(p, q)),
           scale6(Metrics.hellingerSum(p, q)),
           scale6(Metrics.triangularSum(p, q))))
        .toDF("jeffrey", "js", "hellinger", "triangular")
    }),

    "q_hhi" -> ((s, dir) => {
      // Herfindahl-Hirschman concentration of the bin-share vector
      // (`metrics.py:307-329` via core.Metrics.hhi)
      val li = T(s, dir, "lineitem")
      val m = li.groupBy(binIdx(col("l_extendedprice"), liSplits)
          .as("bin"))
        .agg(count(lit(1)).as("n"))
        .collect().map(r => r.getInt(0) -> r.getLong(1).toDouble).toMap
      val v = (0 to 3).map(b => m.getOrElse(b, 0.0)).toArray
      val t = v.sum
      val s2 = v.map(_ / t)
      import graft.core.Metrics
      import s.implicits._
      Seq((scale6(Metrics.hhi(s2)), scale6(Metrics.hhi(s2, true))))
        .toDF("hhi", "hhi_norm")
    }),

    // --- §2.1 sources: CSV round-trip through the disk reader --------
    "q_csv_source" -> ((s, dir) => {
      // write nation as header CSV, read back via Sources.readTable
      // (inferred schema), aggregate — lossless for int/string columns
      val tmp = "target/tmp/nation_roundtrip.csv"
      T(s, dir, "nation")
        .select("n_nationkey", "n_name", "n_regionkey")
        .coalesce(1).write.mode("overwrite")
        .option("header", true).csv(tmp)
      graft.sources.Sources.readTable(s, tmp)
        .agg(count(lit(1)).as("n"),
             sum(col("n_nationkey").cast("long")).as("key_sum"),
             sum(col("n_regionkey").cast("long")).as("region_sum"),
             min(col("n_name")).as("first_name"),
             max(col("n_name")).as("last_name"))
    }),

    "q_fisher_exact" -> ((s, dir) => {
      // Fisher exact two-sided test on a 2x2 supplier table
      // (`metrics.py:276` scipy semantics via Stats.fisherExact; the
      // oracle rebuilds the hypergeometric pmf from lgamma terms)
      val sup = T(s, dir, "supplier")
      val r = sup.agg(
        sum(when(col("s_acctbal") < 4500 && col("s_nationkey") < 12, 1L)
          .otherwise(0L)).as("a"),
        sum(when(col("s_acctbal") < 4500 && col("s_nationkey") >= 12, 1L)
          .otherwise(0L)).as("b"),
        sum(when(col("s_acctbal") >= 4500 && col("s_nationkey") < 12, 1L)
          .otherwise(0L)).as("c"),
        sum(when(col("s_acctbal") >= 4500 && col("s_nationkey") >= 12, 1L)
          .otherwise(0L)).as("d")).collect()(0)
      val (odds, p) = graft.core.Stats.fisherExact(
        r.getLong(0).toDouble, r.getLong(1).toDouble,
        r.getLong(2).toDouble, r.getLong(3).toDouble)
      import s.implicits._
      Seq((scale6(odds), scale6(p))).toDF("odds_ratio", "p_value")
    }),

    "q_transform_sink" -> ((s, dir) => {
      // fit_transform_disk equivalent (`binning_process.py:733-787`):
      // WoE-transform lineitem, write parquet, read back, histogram the
      // transformed column — exercises the sink+source roundtrip
      val li = liTarget(T(s, dir, "lineitem"))
      val fitted = OptimalBinning.fit(li, "l_extendedprice", "y",
        BinningConfig(name = "l_extendedprice",
                      userSplits = Some(liSplits), monotonicTrend = None,
                      minNBins = Some(4), maxNBins = Some(4)))
      val tmp = "target/tmp/woe_sink.parquet"
      li.select(round(fitted.transform(col("l_extendedprice")), 6)
          .as("woe"))
        .write.mode("overwrite").parquet(tmp)
      s.read.parquet(tmp)
        .groupBy("woe").agg(count(lit(1)).as("n")).orderBy("woe")
    }),

    "q_scorecard_cont" -> ((s, dir) => {
      // continuous-target scorecard (target_dtype "continuous"):
      // mean-metric transform + driver WLS; points = Mean * coef.
      // Pinned user splits keep the fit oracle-stable at any SF; the
      // oracle recovers the same slope/intercept via regr_slope on the
      // bin-mean feature
      val li = T(s, dir, "lineitem")
      val sc = Scorecard.fitContinuousTarget(li, Seq("l_quantity"),
        "l_extendedprice",
        BinningConfig(name = "l_quantity",
                      userSplits = Some(Array(10.0, 25.0, 40.0)),
                      monotonicTrend = None))
      val nData = sc.fits("l_quantity").nDataBins
      import s.implicits._
      // intercept is algebraically 0 here (slope-1 regression on the
      // bin-mean feature): round to 2 and normalize -0.0 so residual
      // solver noise can't flip the 6-decimal hash
      val icpt = math.rint(sc.estimatorIntercept * 100) / 100 + 0.0
      sc.pointsTable.filter(_.binId < nData).toSeq.map { r =>
        // points at 4 decimals: 5e4-magnitude means put the 6th decimal
        // inside cross-engine averaging noise
        (r.binId.toLong,
         BigDecimal(r.points).setScale(4, BigDecimal.RoundingMode.HALF_UP)
           .toDouble,
         scale6(r.coefficient), icpt)
      }.toDF("bin", "points", "coef", "intercept").orderBy("bin")
    }),

    // --- monitoring (§2.4 PSI) --------------------------------------
    "q_psi" -> ((s, dir) => {
      val o = T(s, dir, "orders")
      val cutoff = lit("1998-01-01").cast("timestamp")
      val expected = o.where(col("o_orderdate") < cutoff)
      val actual = o.where(col("o_orderdate") >= cutoff)
      Monitoring.psi(expected, actual, "o_totalprice",
                     Array(100000.0, 200000.0, 300000.0))
        .select(col("bin"), col("count_e").cast("long").as("count_e"),
                col("count_a").cast("long").as("count_a"),
                round(col("psi"), 6).as("psi"))
        .orderBy("bin")
    }),

    // --- pipeline: dedup --------------------------------------------
    "q_drift_ztest" -> ((s, dir) => {
      // per-bin 2-proportion z drift test between two date cohorts
      // (`monitoring.py:598-654` semantics on fixed bins)
      val o = T(s, dir, "orders")
      val cutoff = lit("1998-01-01").cast("timestamp")
      val bin = binIdx(col("o_totalprice"), Array(100000.0, 250000.0))
      def agg(df: DataFrame): Map[Int, (Double, Double)] =
        df.select(bin.as("bin"),
                  when(col("o_orderstatus") === "F", 1.0).otherwise(0.0)
                    .as("y"))
          .groupBy("bin")
          .agg(sum("y").as("e"),
               (count(lit(1)).cast("double") - sum("y")).as("ne"))
          .collect()
          .map(r => r.getInt(0) -> ((r.getDouble(1), r.getDouble(2))))
          .toMap
      val e = agg(o.where(col("o_orderdate") < cutoff))
      val a = agg(o.where(col("o_orderdate") >= cutoff))
      import s.implicits._
      (e.keySet ++ a.keySet).toSeq.sorted.map { b =>
        val (e1, ne1) = e.getOrElse(b, (0.0, 0.0))
        val (e2, ne2) = a.getOrElse(b, (0.0, 0.0))
        val (z, _) = graft.core.Stats.testProportions(e1, ne1, e2, ne2)
        (b, scale6(e1 / (e1 + ne1)), scale6(e2 / (e2 + ne2)), scale6(z))
      }.toDF("bin", "rate_e", "rate_a", "z").orderBy("bin")
    }),

    "q_dedup_exact" -> ((s, dir) => {
      // exact-dup groups on normalized text (md5 key for oracle parity)
      val d = T(s, dir, "documents")
      val key = md5(regexp_replace(lower(trim(col("text"))), "\\s+", " "))
      d.groupBy(key.as("fp"))
        .agg(count(lit(1)).as("n_docs"), min("doc_id").as("canonical_id"))
        .groupBy("n_docs")
        .agg(count(lit(1)).as("n_groups"),
             min("canonical_id").as("min_canonical"))
        .orderBy("n_docs")
    }),

    "q_minhash_bands" -> ((s, dir) => {
      // MinHash-LSH: candidate pair count + banded bucket stats
      // (portable Rabin-Karp shingle hash — bit-exact DuckDB oracle; the
      // XXH64 fast path is asserted equal-structured in unit tests)
      val d = T(s, dir, "documents")
      val cands = Dedup.minhashCandidates(d, "text", "doc_id",
                                          numHashes = 32, bands = 8,
                                          portable = true)
      cands.agg(count(lit(1)).as("n_candidate_pairs"),
                countDistinct(col("id_a")).as("n_left_docs"))
    }),

    "q_simhash" -> ((s, dir) => {
      // SimHash signature stats: distinct signatures + popcount histogram
      // (portable polynomial token hash — bit-exact DuckDB oracle)
      val d = T(s, dir, "documents")
      d.select(Dedup.simhash(col("text"), portable = true).as("sig"))
        .select(bit_count(col("sig")).as("popcount"))
        .groupBy("popcount").agg(count(lit(1)).as("n"))
        .orderBy("popcount")
    }),

    "q_ngram_jaccard" -> ((s, dir) => {
      // pairwise 3-gram Jaccard on a deterministic sample; the
      // repartition is a materialization barrier: without it Catalyst
      // collapses the shingle projection into the post-join expression
      // and recomputes shingles per PAIR (O(n^2)) instead of per doc —
      // with it, shingles are computed once per doc below one exchange
      // that both self-join branches reuse
      val d = T(s, dir, "documents").where(col("doc_id") < 200)
      val sh = d
        .select(col("doc_id"),
                split(Dedup.normalizeText(col("text")), " ").as("__tok"))
        // sorted once per doc: the all-pairs scoring runs the codegen
        // merge kernel, not interpreted array_intersect hash sets
        .select(col("doc_id"),
                array_sort(Dedup.wordShinglesOf(col("__tok"), 3)).as("sh"))
        .repartition(s.conf.get("spark.sql.shuffle.partitions").toInt)
      val a = sh.toDF("id_a", "sh_a")
      val b = sh.toDF("id_b", "sh_b")
      a.join(b, col("id_a") < col("id_b"))
        .select(col("id_a"), col("id_b"),
                round(Dedup.sortedJaccardArrays(col("sh_a"), col("sh_b")), 6)
                  .as("jaccard"))
        .where(col("jaccard") > 0.05)
        .orderBy("id_a", "id_b")
    }),

    "q_neardup_pairs" -> ((s, dir) => {
      // the PRODUCTION near-dup path end-to-end over the whole corpus:
      // MinHash-LSH candidates (portable hashes, banded buckets, no
      // all-pairs join) -> word-3-gram Jaccard verification — the exact
      // operator chain a 100 TB dedup run uses, replayed by the oracle
      val d = T(s, dir, "documents")
      val pairs = Dedup.nearDupPairs(d, "text", "doc_id",
        jaccardThreshold = 0.5, numHashes = 32, bands = 8,
        jaccardNgram = 3, portable = true)
      pairs.agg(count(lit(1)).as("n_pairs"),
                countDistinct(col("id_a")).as("n_left_docs"),
                sum(round(col("jaccard") * 1e6).cast("long"))
                  .as("sum_jaccard_micro"))
    }),

    "q_cross_neardup" -> ((s, dir) => {
      // cross-corpus incremental NEAR-dup — the refresh-crawl shape:
      // the doc_id%3==0 "new batch" against the rest-of-corpus
      // snapshot; MinHash band keys of the two corpora equi-join on
      // (band, bucket) with the snapshot side of each bucket capped at
      // 32 members by id rank (deterministic, replayed by the oracle),
      // candidates verify by word-3-gram Jaccard >= 0.5, flagged batch
      // docs drop. Integer-only surface: counts + survivor id sum.
      val d = T(s, dir, "documents")
      val surv = Dedup.crossCorpusNearDup(
        d.where(col("doc_id") % 3 === 0),
        d.where(col("doc_id") % 3 =!= 0),
        "text", "doc_id", jaccardThreshold = 0.5,
        numHashes = 32, bands = 8, jaccardNgram = 3,
        maxSnapshotPerBucket = 32, portable = true)
      surv.agg(count(lit(1)).as("n_survivors"),
               coalesce(sum("doc_id"), lit(0L)).cast("long")
                 .as("survivor_id_sum"))
        .crossJoin(d.where(col("doc_id") % 3 === 0)
          .agg(count(lit(1)).as("n_batch")))
        .select("n_batch", "n_survivors", "survivor_id_sum")
    }),

    "q_dedup_clusters" -> ((s, dir) => {
      // the FULL production dedup chain end-to-end: MinHash-LSH
      // candidates -> n-gram Jaccard verification -> connected
      // components (canonical selection step). The oracle replays the
      // same LSH + verify SQL as q_neardup_pairs, then closes the edge
      // set with a recursive CTE
      val d = T(s, dir, "documents")
      val pairs = Dedup.nearDupPairs(d, "text", "doc_id",
        jaccardThreshold = 0.5, numHashes = 32, bands = 8,
        jaccardNgram = 3, portable = true)
      val comps = Dedup.connectedComponents(pairs)
      comps.groupBy("comp").agg(count(lit(1)).as("sz"))
        .agg(count(lit(1)).as("n_components"),
             sum(col("sz")).cast("long").as("n_nodes"),
             max(col("sz")).as("max_size"),
             min(col("comp")).as("min_canonical"))
    }),

    "q_dedup_survivors" -> ((s, dir) => {
      // survivor selection on top of the cluster chain: keep the
      // longest member (ties -> min doc_id) of each near-dup cluster,
      // plus every unclustered doc; checksum the curated corpus
      val d = T(s, dir, "documents")
      Dedup.dedupSurvivors(d, "text", "doc_id", col("n_chars"),
        jaccardThreshold = 0.5, numHashes = 32, bands = 8,
        jaccardNgram = 3, portable = true)
        .agg(count(lit(1)).as("n_kept"),
             sum("n_chars").cast("long").as("kept_chars"),
             sum("doc_id").cast("long").as("id_checksum"))
    }),

    // --- pipeline: similarity ---------------------------------------
    "q_embed_topk" -> ((s, dir) => {
      // brute-force cosine top-k against the all-ones query vector;
      // ordering on the rounded cosine so libm ulp noise cannot flip the
      // boundary vs the oracle
      val e = T(s, dir, "embeddings")
      val q = array(Array.fill(64)(lit(1.0d)): _*)
      e.select(col("vec_id"),
               round(Similarity.cosine(col("embedding").cast("array<double>"),
                                       q), 6).as("cosine"))
        .orderBy(desc("cosine"), col("vec_id"))
        .limit(10)
    }),

    "q_embed_health" -> ((s, dir) => {
      // vector data-quality audit: null/wrong-dim/NaN/zero counts and
      // milli-quantized integer norm checksums (order-independent
      // BIGINT sums — no float fold on the oracle surface)
      val e = T(s, dir, "embeddings")
      graft.pipeline.Similarity.embeddingHealth(e, "embedding", 64)
    }),

    "q_embed_neardup" -> ((s, dir) => {
      // embedding-cosine near-dup pairs via hyperplane LSH buckets
      // (portable Lehmer-mix planes — bit-exact DuckDB oracle; threshold
      // 0.3 sits in the synthetic data's in-bucket cosine range with no
      // value within 1e-5 of the cut at any SF, so the float compare
      // cannot flip between engines)
      val e = T(s, dir, "embeddings")
      Similarity.cosineNearDupPairs(e, "embedding", "vec_id",
                                    threshold = 0.3, nPlanes = 8,
                                    portable = true)
        .agg(count(lit(1)).as("n_pairs"),
             sum(round(col("cosine") * 1e6).cast("long"))
               .as("sum_cosine_micro"))
    }),

    // --- pipeline: text analysis ------------------------------------
    "q_text_stats" -> ((s, dir) => {
      // per-source quality aggregates
      val d = T(s, dir, "documents")
      d.groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
             round(avg(TextAnalysis.tokenCount(col("text"))), 6)
               .as("avg_tokens"),
             round(avg(length(col("text"))), 6).as("avg_chars"))
        .orderBy("source")
    }),

    "q_vocab_topk" -> ((s, dir) => {
      // vocabulary head: top-20 tokens by term frequency with exact
      // document frequency (tokenizer-training / coverage aggregate)
      val d = T(s, dir, "documents")
      TextAnalysis.vocabTopK(d, "text", "doc_id", k = 20)
    }),

    "q_subword_count" -> ((s, dir) => {
      // BPE-ish subword counting (tokenizer-load proxy) per source
      val d = T(s, dir, "documents")
      d.groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
             sum(TextAnalysis.subwordCount(col("text")).cast("long"))
               .as("total_subwords"),
             round(avg(TextAnalysis.subwordCount(col("text"))), 6)
               .as("avg_subwords"))
        .orderBy("source")
    }),

    "q_lang_id" -> ((s, dir) => {
      // language-ID heuristic vs the labeled lang column
      val d = T(s, dir, "documents")
      d.select(col("lang"), TextAnalysis.langId(col("text")).as("pred"))
        .groupBy("lang", "pred").agg(count(lit(1)).as("n"))
        .orderBy("lang", "pred")
    }),

    "q_fingerprint" -> ((s, dir) => {
      // polynomial rolling fingerprint: distinct keys + checksum
      val d = T(s, dir, "documents")
      d.select(TextAnalysis.rollingFingerprint(col("text")).as("fp"))
        .agg(countDistinct(col("fp")).as("n_distinct"),
             count(lit(1)).as("n_docs"),
             sum(col("fp")).as("fp_sum"))
    }),

    "q_corpus_report" -> ((s, dir) => {
      // corpus data card: per-source integer summary — docs, null
      // texts, exact token/char totals, distinct content fingerprints
      // (exact-dup rate evidence), language spread. One grouped
      // aggregate, rounding-free surface
      val d = T(s, dir, "documents")
      Curation.corpusReport(d, "text", "doc_id", "source", "lang",
                            portable = true)
        .orderBy("source")
    }),

    "q_quality_score" -> ((s, dir) => {
      // per-source document quality scoring (pre-training quality signals)
      val d = T(s, dir, "documents")
      val f = TextAnalysis.qualityFeatures(col("text")).toMap
      d.groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
             round(avg(TextAnalysis.qualityScore(col("text"))), 6)
               .as("avg_quality"),
             round(avg(f("punct_ratio")), 6).as("avg_punct_ratio"),
             round(avg(f("stopword_ratio")), 6).as("avg_stopword_ratio"))
        .orderBy("source")
    }),

    // --- §2.4 multiclass / §2.9-2.10 solver+sketch surfaces ---------
    "q_multiclass_agg" -> ((s, dir) => {
      // per-(bin, class) counts at fixed splits (multiclass prebin matrix)
      val o = T(s, dir, "orders")
      o.groupBy(binIdx(col("o_totalprice"),
                       Array(100000.0, 250000.0)).as("bin"))
        .agg(sum(when(col("o_orderstatus") === "F", 1L).otherwise(0L))
               .as("n_f"),
             sum(when(col("o_orderstatus") === "P", 1L).otherwise(0L))
               .as("n_p"),
             sum(when(col("o_orderstatus") === "O", 1L).otherwise(0L))
               .as("n_o"))
        .orderBy("bin")
    }),

    "q_multiclass_fit" -> ((s, dir) => {
      // full multiclass optimal binning (driver solve) on PINNED user
      // splits (de-pinned r9, the q_score_deploy discipline): fixed
      // user splits force the multiclass solve to identity at ANY SF,
      // so the oracle's split literals are query constants and the
      // strict sf0.1 replay verifies the row; per-bin per-class counts
      // re-aggregated EXACTLY over the raw table at those splits
      val o = T(s, dir, "orders")
        .withColumn("y", when(col("o_orderstatus") === "F", 0.0)
          .when(col("o_orderstatus") === "P", 1.0).otherwise(2.0))
      val mcSplits = Array(100000.0, 200000.0, 300000.0)
      val fitted = MulticlassOptimalBinning.fit(o, "o_totalprice", "y",
        BinningConfig(name = "tp", userSplits = Some(mcSplits),
          monotonicTrend = None,
          userSplitsFixed = Some(Array.fill(mcSplits.length)(true))))
      val sp = fitted.splits
      o.groupBy(binIdx(col("o_totalprice"), sp).cast("long").as("bin"))
        .agg(count(lit(1)).as("count"),
             sum(when(col("y") === 0.0, 1L).otherwise(0L)).as("n_f"),
             sum(when(col("y") === 1.0, 1L).otherwise(0L)).as("n_p"),
             sum(when(col("y") === 2.0, 1L).otherwise(0L)).as("n_o"))
        .withColumn("splits", lit(sp.mkString(",")))
        .orderBy("bin")
    }),

    "q_quantile_splits" -> ((s, dir) => {
      // exact equal-frequency splits (quantile prebinning operator)
      val li = T(s, dir, "lineitem")
      li.agg(
        round(percentile(col("l_quantity"), lit(0.2)), 6).as("q20"),
        round(percentile(col("l_quantity"), lit(0.4)), 6).as("q40"),
        round(percentile(col("l_quantity"), lit(0.6)), 6).as("q60"),
        round(percentile(col("l_quantity"), lit(0.8)), 6).as("q80"))
    }),

    "q_uniform_splits" -> ((s, dir) => {
      // equal-width splits (uniform prebinning operator)
      val li = T(s, dir, "lineitem")
      li.agg(min(col("l_extendedprice")).as("mn"),
             max(col("l_extendedprice")).as("mx"))
        .select(
          round(col("mn") + (col("mx") - col("mn")) * 0.25, 6).as("s1"),
          round(col("mn") + (col("mx") - col("mn")) * 0.50, 6).as("s2"),
          round(col("mn") + (col("mx") - col("mn")) * 0.75, 6).as("s3"))
    }),

    "q_mdlp_deploy" -> ((s, dir) => {
      // pinned-MODEL deployment twin for the MDLP family (completing
      // the q_2d_deploy / q_cf_verify set — all three solver-pinned
      // families now have a scale-verified row): the gate-solved
      // entropy cuts are the deployed MODEL (constants in both
      // engines), and the per-bin tallies PLUS the quantities the
      // MDL criterion is made of — bin entropies and the partition's
      // information gain over the root — are re-derived from RAW
      // rows at whatever SF the query runs. The recursion stays
      // irreducible (documented at SF_PINNED); its SOLUTION deployed
      // as data is fully replayable. One scan-bound aggregate to
      // <= 6 bins; gain via bounded-window sums over that table.
      val cuts = Array(40807.044601, 41192.200023, 42139.474169,
                       43305.350041, 43950.745613)
      val li = T(s, dir, "lineitem")
        .withColumn("y",
          when(col("l_extendedprice") * (lit(1.0) - col("l_discount"))
            >= 40000, 1L).otherwise(0L))
      val byBin = li
        .groupBy(binIdx(col("l_extendedprice"), cuts).cast("long")
                   .as("bin"))
        .agg(count(lit(1)).as("n"), sum(col("y")).as("event"))
        .withColumn("nonevent", col("n") - col("event"))
      def entropy(ev: Column, ne: Column): Column = {
        val n = (ev + ne).cast("double")
        val p = ev.cast("double") / n; val q = ne.cast("double") / n
        val tp = when(ev >= 1, -p * log(p)).otherwise(0.0)
        val tq = when(ne >= 1, -q * log(q)).otherwise(0.0)
        tp + tq
      }
      val all = graft.core.Windows.boundedAll
      byBin
        .withColumn("ent", entropy(col("event"), col("nonevent")))
        .withColumn("tn", sum("n").over(all))
        .withColumn("tev", sum("event").over(all))
        .withColumn("wsum", sum(col("ent") *
                                (col("n").cast("double"))).over(all))
        .select(col("bin"), col("n"), col("event"), col("nonevent"),
                round(col("event").cast("double") / col("n"), 6)
                  .as("rate6"),
                round(col("ent"), 6).as("entropy6"),
                round(entropy(col("tev"), col("tn") - col("tev")), 6)
                  .as("root_entropy6"),
                round(entropy(col("tev"), col("tn") - col("tev")) -
                        col("wsum") / col("tn").cast("double"), 6)
                  .as("gain6"))
        .orderBy("bin")
    }),

    "q_mdlp_splits" -> ((s, dir) => {
      // MDLP entropy discretization as the prebinning method, full fit.
      // The recursive MDL stopping rule is not SQL-expressible, so the
      // oracle checks the invariant instead: solved splits pinned as
      // literals + exact per-bin (count, event) re-aggregated at them
      // every pair of synthetic columns is independent (no cross-column
      // signal), so construct one: y = net price over threshold, where
      // the independent discount column injects noise — P(y|x) is a
      // staircase over x in [40000, 44445), pure 0/1 outside, a real
      // transition band for the MDL criterion to cut
      val li = T(s, dir, "lineitem")
        .withColumn("y",
          when(col("l_extendedprice") * (lit(1.0) - col("l_discount"))
            >= 40000, 1.0).otherwise(0.0))
      val fitted = OptimalBinning.fit(li, "l_extendedprice", "y",
        BinningConfig(name = "l_extendedprice",
                      prebinningMethod = "mdlp"))
      val sp = fitted.splits
      li.groupBy(binIdx(col("l_extendedprice"), sp).cast("long")
          .as("bin"))
        .agg(count(lit(1)).as("count"), sum(col("y")).cast("long")
          .as("event"))
        .withColumn("splits", lit(sp.mkString(",")))
        .orderBy("bin")
    }),

    "q_cap_curve" -> ((s, dir) => {
      // CAP curve: cumulative event capture over bins ordered by event
      // rate descending (`scorecard/plots.py:110-178` on binned data)
      val li = liTarget(T(s, dir, "lineitem"))
      import org.apache.spark.sql.expressions.Window
      val agg = li
        .groupBy(binIdx(col("l_extendedprice"), liSplits).as("bin"))
        .agg(count(lit(1)).as("n"), sum(col("y")).as("ev"))
        .withColumn("event_rate", round(col("ev") / col("n"), 6))
      val w = graft.core.Windows.bounded(desc("event_rate"), col("bin"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      // total via an unbounded window frame: one job, no driver round-trip
      val wAll = graft.core.Windows.boundedAll
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
      agg.withColumn("cum_capture",
                     round(sum("ev").over(w) / sum("ev").over(wAll), 6))
        .select(col("bin"), col("n"), col("ev").cast("long").as("ev"),
                col("event_rate"), col("cum_capture"))
        .orderBy("bin")
    }),

    "q_roc_points" -> ((s, dir) => {
      // ROC curve points (fpr, tpr per threshold) over bins ordered by
      // event rate descending (`scorecard/plots.py:21-107` on binned
      // scores) — the data behind plot_auc_roc
      val li = liTarget(T(s, dir, "lineitem"))
      import org.apache.spark.sql.expressions.Window
      val agg = li
        .groupBy(binIdx(col("l_extendedprice"), liSplits).as("bin"))
        .agg(count(lit(1)).as("n"), sum(col("y")).as("ev"))
        .withColumn("ne", col("n") - col("ev"))
        .withColumn("event_rate", round(col("ev") / col("n"), 6))
      val w = graft.core.Windows.bounded(desc("event_rate"), col("bin"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val wAll = graft.core.Windows.boundedAll
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
      agg.withColumn("tpr",
                     round(sum("ev").over(w) / sum("ev").over(wAll), 6))
        .withColumn("fpr",
                    round(sum("ne").over(w) / sum("ne").over(wAll), 6))
        .select(col("bin"), col("event_rate"), col("fpr"), col("tpr"))
        .orderBy("bin")
    }),

    "q_events_window" -> ((s, dir) => {
      // ordered analytics on the events stream table: per-user running
      // value sum + event sequence number
      // events.parquet carries TIMESTAMP(NANOS), which Spark's parquet
      // reader rejects even at schema inference — read with an explicit
      // schema that omits ts; event_id is insertion-ordered, so ordered
      // analytics use it
      val e = s.read
        .schema("event_id BIGINT, user_id BIGINT, value DOUBLE")
        .parquet(s"$dir/events.parquet")
        .where(col("user_id") < 50)
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("user_id").orderBy("event_id")
      e.select(col("user_id"), col("event_id"),
               row_number().over(w).as("seq"),
               round(sum(col("value"))
                 .over(w.rowsBetween(Window.unboundedPreceding,
                                     Window.currentRow)), 6)
                 .as("running_value"))
        .orderBy("user_id", "seq")
    }),

    "q_asof_join" -> ((s, dir) => {
      // point-in-time (AS-OF) join — the feature-store / backtest
      // lookup: every (user, probe-ts) picks the latest event at or
      // before the probe, no leakage. Spark side is the union-tag +
      // keyed-window operator (no join node at all); the oracle is
      // DuckDB's NATIVE ASOF LEFT JOIN, so two independent
      // implementations of the semantics must agree. Probe grid: every
      // user x 3 timestamps at 1/4, 1/2, 3/4 of the observed span
      // (integer epoch-second arithmetic). Events pre-aggregate to
      // unique (user, ts) so the matched row is well-defined on both
      // engines. Integer-only surface.
      val e = s.read.parquet(s"$dir/events.parquet")
        .select(col("user_id"), col("ts").cast("timestamp").as("ts"),
                col("value"))
      val eu = e.groupBy("user_id", "ts")
        .agg(max("value").as("value"))
      val Array(mn, mx) = e
        .agg(min(col("ts").cast("long")), max(col("ts").cast("long")))
        .collect()(0).toSeq.map(_.asInstanceOf[Long]).toArray
      import s.implicits._
      val grid = (1 to 3).map(s0 => (s0, mn + s0 * ((mx - mn) / 4)))
        .toDF("slot", "pts_sec")
      val probes = e.select("user_id").distinct()
        .crossJoin(grid)
        .withColumn("ts", timestamp_seconds(col("pts_sec")))
        .select("slot", "user_id", "ts")
      graft.operators.AsofJoin
        .asofJoin(probes, eu, "user_id", "ts", Seq("value"))
        .groupBy("slot")
        .agg(count(lit(1)).as("n_probes"),
             count(col("asof_ts")).as("n_matched"),
             coalesce(sum(floor(col("asof_value") * lit(1e6))
                            .cast("long")), lit(0L)).as("value_q_sum"),
             coalesce(sum(unix_micros(col("asof_ts"))), lit(0L))
               .as("ts_us_sum"))
        .orderBy("slot")
    }),

    "q_range_join" -> ((s, dir) => {
      // interval (range) join — events against 15 overlapping global
      // half-open windows (stride span/16, length 2*span/16, so every
      // event lands in ~2 windows). The Spark side is the bucketed
      // equi-join (interval rows explode to their buckets; a bare
      // inequality condition would plan as a broadcast nested loop);
      // the oracle is DuckDB's plain inequality join — two independent
      // implementations of the same containment contract. Integer
      // surface: counts + quantized value sums.
      val e = s.read.parquet(s"$dir/events.parquet")
        .select(col("user_id"), col("ts").cast("timestamp").as("ts"),
                col("value"))
      val Array(mn, mx) = e
        .agg(min(col("ts").cast("long")), max(col("ts").cast("long")))
        .collect()(0).toSeq.map(_.asInstanceOf[Long]).toArray
      val step = (mx - mn) / 16
      import s.implicits._
      val iv = (0 until 15)
        .map(i => (i, mn + i * step, mn + i * step + 2 * step))
        .toDF("ivl", "ss", "es")
        .select(col("ivl"), timestamp_seconds(col("ss")).as("istart"),
                timestamp_seconds(col("es")).as("iend"))
      graft.operators.RangeJoin
        .intervalJoin(e, iv, "ts", "istart", "iend",
                      bucketSeconds = math.max(1L, step))
        .groupBy("ivl")
        .agg(count(lit(1)).as("n_events"),
             countDistinct(col("user_id")).as("n_users"),
             sum(floor(col("value") * lit(1e6)).cast("long"))
               .as("value_q_sum"))
        .orderBy("ivl")
    }),

    "q_sessionize" -> ((s, dir) => {
      // gap-based sessionization over the event stream (gaps-and-islands;
      // event_id is the insertion-ordered axis — ts is TIMESTAMP(NANOS),
      // which Spark's parquet reader rejects)
      val e = s.read
        .schema("event_id BIGINT, user_id BIGINT, value DOUBLE")
        .parquet(s"$dir/events.parquet")
        .where(col("user_id") < 100)
      graft.streaming.Sessionize
        .sessionStats(e, "user_id", "event_id", "value", gap = 1000.0)
        .groupBy("user_id")
        .agg(max(col("session_id")).as("n_sessions"),
             sum(col("n_events")).as("n_events"),
             round(sum(col("value_sum")), 6).as("total_value"),
             max(col("n_events")).as("max_session_events"))
        .orderBy("user_id")
    }),

    "q_scd2" -> ((s, dir) => {
      // SCD2 interval build: each event becomes a [ts, next-ts)
      // validity interval per user (open-ended tail); integer-only
      // checksums — interval counts, open rows, whole-second span sum
      val e = s.read.parquet(s"$dir/events.parquet")
        .select(col("user_id"), col("ts").cast("timestamp").as("ts"),
                col("event_id"))
      graft.operators.Temporal
        .scd2Intervals(e, "user_id", "ts", "event_id")
        .agg(count(lit(1)).as("n_intervals"),
             count(col("valid_to")).as("n_closed"),
             sum(col("valid_to").cast("long") -
                 col("valid_from").cast("long")).as("span_s_sum"))
    }),

    "q_transitions" -> ((s, dir) => {
      // first-order event-type transition (Markov) counts per user
      // journey — (prev, type) pairs with exact counts
      val e = s.read.parquet(s"$dir/events.parquet")
        .select(col("user_id"), col("ts").cast("timestamp").as("ts"),
                col("event_id"), col("event_type"))
      graft.operators.Temporal
        .transitionCounts(e, "user_id", "ts", "event_id", "event_type")
        .orderBy("prev_type", "type")
    }),

    "q_retention" -> ((s, dir) => {
      // daily retention triangle: users cohorted by first-event day,
      // each (cohort, offset) cell counts users active again offset
      // days later — integer epoch-day indices, distinct counts
      val e = s.read.parquet(s"$dir/events.parquet")
        .select(col("user_id"), col("ts").cast("timestamp").as("ts"))
      graft.operators.Temporal
        .retentionMatrix(e, "user_id", "ts", periodSeconds = 86400L)
        .orderBy("cohort", "offset")
    }),

    "q_rfm_segments" -> ((s, dir) => {
      // RFM customer segmentation: exact global quintile scores on
      // recency/frequency/monetary via the bucketed-prefix row number
      // (no global sort), rolled up per populated segment code
      val o = T(s, dir, "orders")
      graft.operators.Segmentation
        .rfmSegments(o, "o_custkey", "o_orderdate", "o_totalprice")
    }),

    "q_fd_violations" -> ((s, dir) => {
      // functional-dependency profiling: does X determine Y — group
      // counts, violating groups/rows, and the worst fan-out per
      // candidate dependency (one grouped aggregate each)
      val li = T(s, dir, "lineitem")
      graft.operators.QualityChecks
        .fdAudit(li, Seq(("l_orderkey", "l_shipdate"),
                         ("l_partkey", "l_suppkey"),
                         ("l_orderkey", "l_returnflag")))
        .orderBy("fd")
    }),

    "q_skew_report" -> ((s, dir) => {
      // join-key skew profile of lineitem.l_partkey: row/key totals,
      // the heaviest key, and the exact discrete p90 per-key count —
      // the pre-join report that decides salting vs broadcast
      val li = T(s, dir, "lineitem")
      graft.operators.QualityChecks.skewReport(li, "l_partkey")
    }),

    "q_join_cardinality" -> ((s, dir) => {
      // exact join-output profile from per-key count aggregates only
      // (never materializing the join): lineitem x returned-lineitem
      // on partkey — total pairs, worst single key, common key count
      val li = T(s, dir, "lineitem")
      graft.operators.QualityChecks
        .joinCardinality(li, "l_partkey",
                         li.where(col("l_returnflag") === "R"),
                         "l_partkey")
    }),

    "q_kmv_overlap" -> ((s, dir) => {
      // KMV audience overlap: customers ordering before vs after the
      // 1998 cutoff — union sketch = MERGE of the two k-min sets,
      // intersection by inclusion-exclusion, exact truths alongside
      val o = T(s, dir, "orders")
      val cutoff = lit("1998-01-01").cast("timestamp")
      graft.operators.Cardinality
        .kmvOverlap(o.where(col("o_orderdate") < cutoff),
                    o.where(col("o_orderdate") >= cutoff),
                    "o_custkey", k = 64)
    }),

    "q_wow_deltas" -> ((s, dir) => {
      // week-over-week daily-count deltas per event type: value-keyed
      // self-join (never a row-offset window across gaps), integer
      // delta + truncated ppm rate
      val e = T(s, dir, "events")
      graft.operators.Temporal
        .periodDeltas(e, "ts", "event_type",
                      periodSeconds = 86400L, lagPeriods = 7)
    }),

    "q_rolling_active" -> ((s, dir) => {
      // exact DAU + trailing-7-day WAU per observed day via the
      // coverage explode (distinct-over-window is not decomposable;
      // the x7 explode is)
      val e = T(s, dir, "events")
      graft.operators.Temporal.rollingActive(e, "user_id", "ts")
    }),

    "q_growth_accounting" -> ((s, dir) => {
      // DAU decomposition per observed day: new + retained +
      // resurrected = dau, churned(d) = dau(d-1) - retained(d) —
      // distinct user-days, min-day join, yesterday self-join
      val e = T(s, dir, "events")
      graft.operators.Temporal.growthAccounting(e, "user_id", "ts")
    }),

    "q_dup_by_source" -> ((s, dir) => {
      // per-source duplicate-rate triage: within-source content-key
      // groups, dup counts and the largest clone group
      val d = T(s, dir, "documents")
      graft.pipeline.Dedup
        .dupStatsBySource(d, "text", "doc_id", "source",
                          portable = true)
    }),

    "q_length_histogram" -> ((s, dir) => {
      // log2-bucketed document token-length histogram: exact integer
      // floor(log2) via the binary rendering (no float log), empty
      // docs in bucket -1
      val d = T(s, dir, "documents")
      graft.pipeline.TextAnalysis.lengthHistogram(d, "text")
    }),

    "q_cross_source_dupes" -> ((s, dir) => {
      // cross-source duplication matrix: distinct content
      // fingerprints shared by each source pair — the provenance
      // complement of q_dup_by_source's within-source rates
      val d = T(s, dir, "documents")
      graft.pipeline.Dedup
        .crossSourceDupes(d, "text", "doc_id", "source",
                          portable = true)
    }),

    "q_behavior_cohorts" -> ((s, dir) => {
      // audience bitmask census over the trailing activity window
      // (the long corpus saturates every flag): one bit per tracked
      // event type (view=4, click=2, purchase=1), users counted per
      // populated combination — one groupBy(user) + one tiny rollup
      val e = T(s, dir, "events")
        .where(col("ts").cast("timestamp") >=
               lit("2024-01-29 12:00:00").cast("timestamp"))
      graft.operators.Funnel
        .behaviorCohorts(e, "user_id", "event_type",
                         Seq("view", "click", "purchase"))
    }),

    "q_event_gaps" -> ((s, dir) => {
      // inter-arrival gap profile: per-user consecutive gaps in whole
      // seconds under the (ts, event_id) total order, reduced to one
      // row of integer facts incl. the exact discrete median
      val e = T(s, dir, "events")
      graft.operators.Temporal
        .eventGapProfile(e, "user_id", "ts", "event_id")
    }),

    "q_key_gaps" -> ((s, dir) => {
      // surrogate-key continuity audit of o_orderkey: missing-id
      // total, gap census, largest gap and the key it follows —
      // bucketed adjacency, no global sort
      val o = T(s, dir, "orders")
      graft.operators.QualityChecks
        .keyGapAudit(o, "o_orderkey", bucketWidth = 1000L)
    }),

    "q_rollup_hierarchy" -> ((s, dir) => {
      // hierarchical rollup over the dimension chain: customers per
      // (region, nation) with nation subtotals and the grand total —
      // dims broadcast, one Expand-fed aggregate
      val c = s.read.parquet(s"$dir/customer.parquet")
        .select(col("c_custkey"), col("c_nationkey"))
      val n = s.read.parquet(s"$dir/nation.parquet")
        .select(col("n_nationkey"), col("n_name"), col("n_regionkey"))
      val r = s.read.parquet(s"$dir/region.parquet")
        .select(col("r_regionkey"), col("r_name"))
      c.join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
        .join(broadcast(r), col("n_regionkey") === col("r_regionkey"))
        .rollup(col("r_name"), col("n_name"))
        .agg(count(lit(1)).as("n_cust"),
             sum(col("c_custkey")).as("key_sum"),
             grouping_id().as("gid"))
        .orderBy(col("gid"), col("r_name").asc_nulls_first,
                 col("n_name").asc_nulls_first)
    }),

    "q_ref_integrity" -> ((s, dir) => {
      // referential-integrity audit: three real foreign keys plus a
      // deterministically-broken one (parents with o_orderkey%11==0
      // withheld) to prove orphan detection; anti-joins only
      val cu = s.read.parquet(s"$dir/customer.parquet")
      val na = s.read.parquet(s"$dir/nation.parquet")
      val or = s.read.parquet(s"$dir/orders.parquet")
      val pa = s.read.parquet(s"$dir/part.parquet")
      val li = s.read.parquet(s"$dir/lineitem.parquet")
      val orSample = or.where(col("o_orderkey") % 11 =!= 0)
      graft.operators.QualityChecks.referentialOrphans(Seq(
        ("customer->nation", cu, "c_nationkey", na, "n_nationkey"),
        ("orders->customer", or, "o_custkey", cu, "c_custkey"),
        ("lineitem->part", li, "l_partkey", pa, "p_partkey"),
        ("lineitem->orders_mod11", li, "l_orderkey", orSample,
         "o_orderkey")))
        .orderBy("relationship")
    }),

    "q_k_anonymity" -> ((s, dir) => {
      // k-anonymity risk of the (nation, segment) quasi-identifier:
      // combos shared by < 5 customers and the rows they expose
      val cu = s.read.parquet(s"$dir/customer.parquet")
      graft.operators.QualityChecks
        .kAnonymity(cu, Seq("c_nationkey", "c_mktsegment"), k = 5L)
    }),

    "q_rank_transform" -> ((s, dir) => {
      // exact global percentile-rank transform without a global sort:
      // bucketed two-pass rank, summarized per decile
      val li = s.read.parquet(s"$dir/lineitem.parquet")
        .select(floor(col("l_extendedprice")).cast("long").as("v"))
      graft.operators.DistributedRank
        .withGlobalRank(li, "v", bucketWidth = 1000L)
        .withColumn("decile", expr("((rank - 1) * 10) div __n"))
        .groupBy("decile")
        .agg(count(lit(1)).as("n_rows"), min("v").as("v_min"),
             max("v").as("v_max"), sum("rank").as("rank_sum"))
        .orderBy("decile")
    }),

    "q_spearman" -> ((s, dir) => {
      // exact integer Spearman: per return flag, 4x the classic sum of
      // squared rank differences between price and quantity (average
      // ranks doubled so ties stay exact)
      val li = s.read.parquet(s"$dir/lineitem.parquet")
        .select(col("l_returnflag"),
                floor(col("l_extendedprice")).cast("long").as("x"),
                floor(col("l_quantity")).cast("long").as("y"))
      graft.operators.DistributedRank
        .groupedSpearman(li, "l_returnflag", "x", "y",
                         bucketWidthX = 1000L, bucketWidthY = 5L)
        .orderBy("l_returnflag")
    }),

    "q_anomaly_mad" -> ((s, dir) => {
      // grouped robust anomaly gate: per event type, rows beyond
      // 3 MAD from the median of value-cents — exact doubled-integer
      // median/MAD, distributed histogram passes only
      val e = s.read.parquet(s"$dir/events.parquet")
        .where(col("value").isNotNull)
        .select(col("event_type"), col("event_id"),
                floor(col("value") * 100).cast("long").as("cents"))
      graft.operators.Outliers
        .madAnomalySummary(e, "event_type", "cents", "event_id",
                           kNum = 3L, kDen = 1L)
        .orderBy("event_type")
    }),

    "q_skyline" -> ((s, dir) => {
      // Pareto frontier of line items — no item both cheaper
      // (floor-dollar) and higher-quantity: distributed bucketed
      // sweep over 600k rows, integer axes only
      val li = s.read.parquet(s"$dir/lineitem.parquet")
        .select(col("l_orderkey"), col("l_linenumber"),
                floor(col("l_extendedprice")).cast("long")
                  .as("price_fl"),
                floor(col("l_quantity")).cast("long").as("qty"))
      graft.operators.Skyline
        .skyline2d(li, "price_fl", "qty",
                   Seq("l_orderkey", "l_linenumber"),
                   bucketWidth = 1000L)
        .orderBy("price_fl", "qty", "l_orderkey", "l_linenumber")
    }),

    "q_overlap_peak" -> ((s, dir) => {
      // peak concurrent event intervals per (type, day): each event
      // holds [ts, ts + max(1, floor(value*60)) s); day-split sweep
      val e = s.read.parquet(s"$dir/events.parquet")
        .where(col("ts").isNotNull && col("value").isNotNull)
        .select(col("event_type"), col("event_id"),
                col("ts").cast("timestamp").cast("long").as("start_sec"),
                greatest(lit(1L), floor(col("value") * 60).cast("long"))
                  .as("dur_sec"))
        .withColumn("end_sec", col("start_sec") + col("dur_sec"))
      graft.operators.Temporal
        .peakConcurrency(e, "event_type", "start_sec", "end_sec",
                         "event_id")
        .orderBy("event_type", "day")
    }),

    "q_bfs_hops" -> ((s, dir) => {
      // 3-hop BFS over the symmetrized repeat co-purchase graph from
      // the %25==0 seed catalog; per-level node counts + id checksum
      val li = s.read.parquet(s"$dir/lineitem.parquet")
      val edges = graft.operators.MarketBasket
        .coOccurrence(li, "l_orderkey", "l_partkey")
        .where(col("n") >= 2)
      // r12: persist the symmetrized edge list BEFORE deriving seeds —
      // the seed frontier materializes first inside bfsDistances, and
      // without the shared cache its lineage re-executed the entire
      // co-occurrence subtree (2 shuffles over lineitem) a second
      // time (guide §5 persist-when-reused; released per bench pass
      // via clearCache like every graph cache here)
      val sym = edges.select(col("item_a").as("src"),
                             col("item_b").as("dst"))
        .unionByName(edges.select(col("item_b").as("src"),
                                  col("item_a").as("dst")))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val seeds = sym.select(col("src").as("v"))
        .where(col("v") % 25 === 0).distinct()
      graft.operators.Graph
        .bfsDistances(sym, "src", "dst", seeds, "v", maxHops = 3)
        .groupBy("dist")
        .agg(count(lit(1)).as("n_nodes"), sum(col("v")).as("v_sum"))
        .orderBy("dist")
    }),

    "q_collocations" -> ((s, dir) => {
      // top-20 collocations (multiword expressions) by exact integer
      // PMI lift among bigrams seen >= 5 times
      val d = s.read.parquet(s"$dir/documents.parquet")
        .where(col("text").isNotNull)
      graft.pipeline.TextAnalysis
        .collocationTopK(d, "text", k = 20, minCount = 5L)
    }),

    "q_throttle" -> ((s, dir) => {
      // burst thinning: drop events under 30 min from the user's
      // previous event; per-type survivor counts + id checksum
      val e = s.read.parquet(s"$dir/events.parquet")
        .select(col("user_id"), col("event_id"), col("event_type"),
                col("ts").cast("timestamp").as("ts"))
      graft.operators.Temporal
        .throttle(e, "user_id", "ts", "event_id", gapSeconds = 1800L)
        .groupBy("event_type")
        .agg(count(lit(1)).as("n_kept"),
             sum(col("event_id")).as("id_sum"))
        .orderBy("event_type")
    }),

    "q_zorder" -> ((s, dir) => {
      // Z-order clustering-key distribution: the Morton key of
      // (custkey, orderkey) at 16 bits, histogrammed by its top 10
      // bits — the layout key behind 2D file-skipping OPTIMIZE
      val o = s.read.parquet(s"$dir/orders.parquet")
      o.select(graft.functions.ZOrderExpr
          .zorder(col("o_custkey"), col("o_orderkey"), 16).as("zk"))
        .groupBy(expr("zk div 4194304").as("bucket"))
        .agg(count(lit(1)).as("n"), sum(col("zk")).as("z_sum"))
        .orderBy("bucket")
    }),

    "q_stream_rollup" -> ((s, dir) => {
      // STREAMING materialized-view maintenance: the old->new CDC
      // delta (update rows arriving as delete+insert halves) replays
      // as a 3-trigger file stream; foreachBatch applies each batch
      // to the rollup via IncrementalAgg. The maintained state is
      // group-bounded (driver-held between triggers, the
      // sketch-state pattern); delta application is commutative, so
      // ANY batch split yields the same final rollup — which must
      // equal the oracle's full recompute over the new snapshot
      val orders = s.read.parquet(s"$dir/orders.parquet")
        .select(col("o_orderkey"), col("o_custkey"),
                col("o_orderstatus"))
      val old = orders.where(col("o_orderkey") % 7 =!= 0)
      val nw = orders.where(col("o_orderkey") % 5 =!= 0)
        .withColumn("o_custkey",
          when(col("o_orderkey") % 3 === 0, col("o_custkey") + 1)
            .otherwise(col("o_custkey")))
      val delta = nw.exceptAll(old).withColumn("op", lit("I"))
        .unionByName(old.exceptAll(nw).withColumn("op", lit("D")))
      val stage = tmpWorkDir("graft_srollup_stage")
      stageBatchesOnePass(delta, pmod(col("o_orderkey"), lit(3)), 3,
                          stage, Seq.empty)
      stampStageMtimes(stage, 3)
      val ckpt = tmpWorkDir("graft_srollup_ckpt")
      val keys = Seq("o_orderstatus")
      val sums = Seq("o_custkey")
      // driver-held rollup between triggers: group-bounded rows, the
      // same discipline as the sketch re-solve queries
      var base: Seq[(String, Long, Long)] =
        graft.operators.IncrementalAgg
          .rollup(old, keys, sums)
          .collect().toSeq
          .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
      val stream = s.readStream
        .schema("o_orderkey BIGINT, o_custkey BIGINT, " +
                "o_orderstatus STRING, op STRING")
        .option("maxFilesPerTrigger", 1)
        .option("recursiveFileLookup", "true")
        .parquet(stage)
      import s.implicits._
      val q = stream.writeStream
        .foreachBatch { (batch: DataFrame, _: Long) =>
          val b = base.toDF("o_orderstatus", "n", "sum_o_custkey")
          base = graft.operators.IncrementalAgg
            .applyDelta(b, batch.where(col("op") === "I"),
                        batch.where(col("op") === "D"), keys, sums)
            .collect().toSeq
            .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
        }
        .option("checkpointLocation", ckpt)
        .start()
      q.processAllAvailable()
      q.stop()
      deleteRecursively(stage)
      deleteRecursively(ckpt)
      base.toDF("o_orderstatus", "n", "sum_o_custkey")
        .orderBy("o_orderstatus")
    }),

    "q_time_weighted" -> ((s, dir) => {
      // time-weighted value exposure: each user's event 'value' held
      // until their next event (SCD2 intervals), clipped to the
      // global horizon; corpus totals stay integer (value quantized
      // 1e-6, durations in seconds)
      val e = s.read.parquet(s"$dir/events.parquet")
        .where(col("ts").isNotNull)
        .select(col("user_id"), col("event_id"),
                col("ts").cast("timestamp").as("ts"),
                floor(col("value") * lit(1e6)).cast("long").as("vq"))
      val horizon = e.agg(max(col("ts").cast("long"))).collect()(0)
        .getLong(0) + 3600L
      val iv = graft.operators.Temporal
        .scd2Intervals(e, "user_id", "ts", "event_id")
      graft.operators.Temporal
        .timeWeightedTotals(iv, "user_id", "valid_from", "valid_to",
                            "vq", horizon)
        .agg(count(lit(1)).as("n_keys"),
             sum(col("tw_sum")).as("tw_total"),
             sum(col("dur_sum")).as("dur_total"))
    }),

    "q_funnel_latency" -> ((s, dir) => {
      // time-to-convert: signup -> first later purchase, bucketed to
      // integer hours — the funnel's latency histogram
      val e = s.read.parquet(s"$dir/events.parquet")
        .select(col("user_id"), col("ts").cast("timestamp").as("ts"),
                col("event_type"))
      val times = graft.operators.Funnel
        .funnelTimes(e, "user_id", "ts", "event_type",
                     Seq("signup", "purchase"))
        .where(col("step_ts_2").isNotNull)
      times.select(
          expr("(CAST(step_ts_2 AS LONG) - CAST(step_ts_1 AS LONG)) " +
               "div 3600L").as("delay_h"))
        .groupBy("delay_h")
        .agg(count(lit(1)).as("n_users"))
        .orderBy("delay_h")
    }),

    "q_fuzzy_pairs" -> ((s, dir) => {
      // near-identical entity detection: edit-distance-1 customer-
      // name pairs via deletion-neighborhood blocking — the oracle
      // brute-forces levenshtein over the same 1500-name vocabulary,
      // proving the blocked join finds EVERY pair (19.5k of them)
      // while never comparing all 1.1M name combinations
      val c = s.read.parquet(s"$dir/customer.parquet")
        .select(lower(col("c_name")).as("name"))
      graft.pipeline.Dedup
        .editDistance1Pairs(c, "name")
        .orderBy("a", "b")
    }),

    "q_score_deploy" -> ((s, dir) => {
      // the DEPLOYMENT flow as one row: fit on the train cohort, apply
      // the TRAIN model to the test cohort, monitor the shift — the
      // train/apply split no other scorecard query exercises (they fit
      // and score the same data). Pinned splits + a saturated
      // single-variable WoE logistic keep the whole chain closed-form
      // (coef = -1, intercept = ln(te/tne) OF THE TRAIN COHORT), so
      // the oracle replays train-fit -> test-apply -> per-bin
      // monitoring at ANY SF — no solver literals, not sf-pinned.
      // Output per bin: train/test counts, train WoE (the deployed
      // model), test event tallies under the train model's default
      // threshold, and the PSI contribution of the bin shift.
      val li = liTarget(T(s, dir, "lineitem"))
      val train = li.where(col("l_orderkey") % 2 === 0)
      val test = li.where(col("l_orderkey") % 2 === 1)
      val sc = Scorecard.fit(train, Seq("l_extendedprice"), "y",
        binningConfig = BinningConfig(name = "l_extendedprice",
          userSplits = Some(liSplits), monotonicTrend = None,
          minNBins = Some(4), maxNBins = Some(4)))
      val bin = when(col("l_extendedprice") < liSplits(0), 0L)
        .when(col("l_extendedprice") < liSplits(1), 1L)
        .when(col("l_extendedprice") < liSplits(2), 2L)
        .otherwise(3L)
      val p = sc.predictProbaColumn()
      val tr = train.groupBy(bin.as("bin"))
        .agg(count(lit(1)).as("n_train"))
      val te = test.groupBy(bin.as("bin"))
        .agg(count(lit(1)).as("n_test"),
             sum(col("y").cast("long")).as("n_test_event"),
             sum(when(col("y") === 1.0 && p >= 0.5, 1L)
                   .otherwise(0L)).as("n_test_tp"),
             sum(when(col("y") === 0.0 && p < 0.5, 1L)
                   .otherwise(0L)).as("n_test_tn"))
      val woeByBin = sc.process.fits("l_extendedprice").table.rows
        .zipWithIndex.filter(_._1.count > 0)
        .map { case (r, i) => (i.toLong, scale6(r.woe)) }.toSeq
      import s.implicits._
      val woeDf = woeByBin.toDF("bin", "woe_train")
      val joined = tr.join(te, Seq("bin")).join(broadcast(woeDf),
                                                Seq("bin"))
      // PSI contribution per bin over the two cohort populations.
      // Empty-cohort guard (the joinCardinality empty-input lesson):
      // sums are null on an empty join — the per-bin output is empty
      // anyway, so any positive divisor keeps the plan valid
      val tots = joined.agg(sum("n_train"), sum("n_test")).head
      val (tTr, tTe) =
        if (tots.isNullAt(0) || tots.isNullAt(1)) (1L, 1L)
        else (tots.getLong(0), tots.getLong(1))
      joined.select(col("bin"), col("n_train"), col("n_test"),
          col("woe_train"), col("n_test_event"), col("n_test_tp"),
          col("n_test_tn"),
          round((col("n_test") / lit(tTe.toDouble) -
                 col("n_train") / lit(tTr.toDouble)) *
                log((col("n_test") / lit(tTe.toDouble)) /
                    (col("n_train") / lit(tTr.toDouble))), 6)
            .as("psi_bin"))
        .orderBy("bin")
    }),

    "q_snowflake_rollup" -> ((s, dir) => {
      // snowflake-dimension revenue rollup (the TPC-H Q5 shape):
      // lineitem enriches through supplier -> nation -> region (three
      // BROADCAST hops — the dims are region-bounded) plus the part
      // dimension on partkey (the one genuinely big dim: broadcast at
      // this SF, a co-partitioned shuffle join at warehouse scale).
      // Revenue stays integer: cents x (100 - discount_pct), summed
      // as BIGINT — no float money anywhere
      val li = T(s, dir, "lineitem").select(
        col("l_suppkey"), col("l_partkey"),
        round(col("l_extendedprice") * 100).cast("long").as("__cents"),
        round(col("l_discount") * 100).cast("long").as("__disc"))
      val sup = T(s, dir, "supplier")
        .select(col("s_suppkey"), col("s_nationkey"))
      val nat = T(s, dir, "nation")
        .select(col("n_nationkey"), col("n_regionkey"))
      val reg = T(s, dir, "region")
        .select(col("r_regionkey"), col("r_name"))
      val prt = T(s, dir, "part")
        .select(col("p_partkey"), col("p_type"))
      li.join(broadcast(sup), col("l_suppkey") === col("s_suppkey"))
        .join(broadcast(nat), col("s_nationkey") === col("n_nationkey"))
        .join(broadcast(reg), col("n_regionkey") === col("r_regionkey"))
        .join(prt, col("l_partkey") === col("p_partkey"))
        .groupBy(col("r_name").as("region"),
                 col("p_type").as("part_type"))
        .agg(count(lit(1)).as("n_lines"),
             sum(col("__cents") * (lit(100L) - col("__disc")))
               .as("revenue_scaled"))
        .orderBy("region", "part_type")
    }),

    "q_cycle_time" -> ((s, dir) => {
      // order-fulfilment cycle time: the fact-fact orders x lineitem
      // join (both orderkey-keyed — the co-location/bucketing shape at
      // warehouse scale), then per priority: line count, 30-day SLA
      // breaches, the EXACT doubled median of the order->ship gap
      // (bucketed-crossing histogram, no per-group sort) and the
      // worst gap — every output an integer
      val li = T(s, dir, "lineitem")
        .where(col("l_shipdate").isNotNull)
        .select(col("l_orderkey"),
                col("l_shipdate").cast("timestamp").cast("long")
                  .as("__ship"))
      val o = T(s, dir, "orders")
        .where(col("o_orderdate").isNotNull)
        .select(col("o_orderkey"),
                col("o_orderdate").cast("timestamp").cast("long")
                  .as("__ord"),
                col("o_orderpriority"))
      // NOT persisted (r13): the median's histogram crossings and the
      // final rollup consume the join through identical subtrees — the
      // two scan-side Exchanges are runtime-reused, so only the cheap
      // SMJ probe re-runs per branch, cheaper than the 600k-row
      // InMemoryRelation build the old persist paid (the
      // seasonalAnomalies finding)
      val j = li.join(o, col("l_orderkey") === col("o_orderkey"))
        .select(col("o_orderpriority").as("priority"),
                expr("(__ship - __ord) div 86400").as("gap"))
      val med = graft.operators.Histograms
        .groupedDoubledMedian(j, "priority", "gap")
        .select(col("priority"), col("median2"))
      j.groupBy("priority")
        .agg(count(lit(1)).as("n_lines"),
             sum(when(col("gap") > 30, 1L).otherwise(0L))
               .as("n_sla_breach"),
             max("gap").as("max_gap"),
             sum("gap").as("gap_sum"))
        .join(broadcast(med), Seq("priority"))
        .orderBy("priority")
    }),

    "q_ewma_anomaly" -> ((s, dir) => {
      // EWMA burst gate: half-life-1-day decay makes every weight the
      // dyadic 2^(W-j), so the whole chart — truncated EWMA numerator,
      // constant denominator 2^W - 1, the 3x-baseline flag — is BIGINT
      // arithmetic the oracle replays exactly (no float pow anywhere)
      val e = T(s, dir, "events")
      graft.operators.Monitoring
        .ewmaAnomalies(e, "event_type", "ts", windowDays = 14,
                       kNum = 6L, kDen = 5L)
        .withColumnRenamed("g", "event_type")
        .orderBy("event_type")
    }),

    "q_embed_drift" -> ((s, dir) => {
      // centroid-drift audit between two embedding snapshots (vec_id
      // halves): per label, both cohort sizes and the exact scaled L1
      // centroid drift — cross-multiplied integers, no division
      val e = T(s, dir, "embeddings")
      graft.pipeline.Similarity.centroidDrift(
          e.where(col("vec_id") % 2 === 0),
          e.where(col("vec_id") % 2 === 1),
          "embedding", "label")
        .orderBy("label")
    }),

    "q_knn_eval" -> ((s, dir) => {
      // leave-one-out kNN label audit on the embedding column: 50
      // query vectors, exact integer distances, majority-of-5 vote ->
      // (label, predicted) confusion matrix. Every number is integer
      // arithmetic after one quantization, so the oracle replays the
      // whole chain (distances, rank, vote, confusion) in plain SQL
      val e = T(s, dir, "embeddings")
      val queries = e.where(col("vec_id") < 50)
        .select(col("vec_id").as("qid"), col("embedding"),
                col("label"))
      graft.pipeline.Similarity.knnLabelEval(
          e, queries, "embedding", "vec_id", "label",
          "qid", "embedding", "label", k = 5)
        .orderBy("label", "predicted")
    }),

    "q_knn_ivf" -> ((s, dir) => {
      // IVF-routed kNN with an exact recall report (the q_lsh_quality
      // discipline on the vector index): brute-force BIGINT top-10
      // truth vs the same ranking restricted to 4 probed portable-IVF
      // cells, both via the O(k) TopKAgg aggregate; integer recall
      // tallies the oracle replays end-to-end — the measured answer to
      // "what does swapping the candidate stage for IVF cells cost"
      val e = T(s, dir, "embeddings")
      val queries = e.where(col("vec_id") < 50)
        .select(col("vec_id").as("qid"), col("embedding"))
      graft.pipeline.Similarity.knnRecallReport(
        e, queries, "embedding", "vec_id", "qid", "embedding",
        k = 10, dim = 64, nLists = 16, nProbe = 4)
    }),

    "q_jaro_scores" -> ((s, dir) => {
      // fuzzy-match SCORING: the blocked edit-distance-1 name pairs
      // scored by the native Jaro-Winkler kernel
      // (graft.functions.StringSimExprs — same variant as DuckDB's
      // jaro_winkler_similarity), bucketed to BIGINT micro-units.
      // The oracle brute-forces the same pair set (q_fuzzy_pairs
      // discipline) and scores with DuckDB's own implementation, so a
      // hash match proves the kernel's arithmetic end-to-end.
      val c = s.read.parquet(s"$dir/customer.parquet")
        .select(lower(col("c_name")).as("name"))
      val pairs = graft.pipeline.Dedup.editDistance1Pairs(c, "name")
      pairs.select(
          round(graft.functions.StringSimExprs
                  .jaroWinkler(col("a"), col("b")) * 1e6)
            .cast("long").as("jw_micro"))
        .groupBy("jw_micro").agg(count(lit(1)).as("n_pairs"))
        .orderBy("jw_micro")
    }),

    "q_compact_latest" -> ((s, dir) => {
      // changelog compaction: latest event per user by the (sec, id)
      // total order — ONE aggregate with max_by over a struct key
      // (map-side partial, O(1) per-group state), never a window
      // sort over each key's history; the upsert-to-snapshot shape
      val e = s.read.parquet(s"$dir/events.parquet")
        .where(col("ts").isNotNull)
        .select(col("user_id"), col("event_id"), col("event_type"),
                col("ts").cast("timestamp").cast("long").as("sec"))
      e.groupBy("user_id")
        .agg(max_by(struct(col("event_id"), col("event_type")),
                    struct(col("sec"), col("event_id"))).as("__last"),
             count(lit(1)).as("n_versions"))
        .select(col("user_id"), col("__last.event_id").as("event_id"),
                col("__last.event_type").as("event_type"),
                col("n_versions"))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n_users"),
             sum(col("event_id")).as("id_sum"),
             sum(col("n_versions")).as("versions"))
        .orderBy("event_type")
    }),

    "q_cube" -> ((s, dir) => {
      // OLAP cube: all 4 grouping sets of (status, priority) in one
      // pass — Spark's Expand feeds a single hash aggregate;
      // grouping_id disambiguates NULL-as-total from NULL data
      val o = s.read.parquet(s"$dir/orders.parquet")
      o.cube(col("o_orderstatus"), col("o_orderpriority"))
        .agg(count(lit(1)).as("n"),
             sum(col("o_orderkey")).as("key_sum"),
             grouping_id().as("gid"))
        .orderBy(col("gid"), col("o_orderstatus").asc_nulls_first,
                 col("o_orderpriority").asc_nulls_first)
    }),

    "q_pivot" -> ((s, dir) => {
      // pivot: order counts per priority x status, statuses as
      // columns — the wide-report shape; values list pinned so the
      // schema is static (no extra distinct-scan, required at scale)
      val o = s.read.parquet(s"$dir/orders.parquet")
      o.groupBy(col("o_orderpriority"))
        .pivot("o_orderstatus", Seq("F", "O", "P"))
        .agg(count(lit(1)))
        .na.fill(0L)
        .orderBy("o_orderpriority")
    }),

    "q_salted_join" -> ((s, dir) => {
      // salted skew join: lineitem x part on partkey, fact salt from
      // the unique (orderkey, partkey) id; result must equal the
      // plain join — salting changes distribution, never values. The
      // merge hint pins the shuffle-join path in the plan (a
      // broadcast would bypass the salt; hints survive lazy
      // execution where a session-conf toggle would not)
      val li = s.read.parquet(s"$dir/lineitem.parquet")
        .select(col("l_orderkey"), col("l_partkey"),
                col("l_quantity").cast("long").as("qty"))
      val p = s.read.parquet(s"$dir/part.parquet")
        .select(col("p_partkey"), col("p_brand")).hint("merge")
      graft.operators.SkewJoin
        .saltedEquiJoin(li, p, "l_partkey", "p_partkey",
                        saltSource = concat_ws(":",
                          col("l_orderkey"), col("l_partkey")),
                        salt = 8)
        .groupBy("p_brand")
        .agg(count(lit(1)).as("n"), sum(col("qty")).as("qty_sum"))
        .orderBy("p_brand")
    }),

    "q_partition_prune" -> ((s, dir) => {
      // hive-layout sink + partition-pruned source: orders written
      // partitionBy(o_orderpriority); the filtered read-back scans
      // ONLY the two matching directories (PlanShapeSpec pins the
      // PartitionFilters; row-group stats never even open the rest)
      val o = s.read.parquet(s"$dir/orders.parquet")
        .select(col("o_orderkey"), col("o_custkey"),
                col("o_orderpriority"))
      val tmp = "target/tmp/orders_part.parquet"
      o.write.mode("overwrite").partitionBy("o_orderpriority")
        .parquet(tmp)
      s.read.parquet(tmp)
        .where(col("o_orderpriority").isin("1-URGENT", "2-HIGH"))
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("n"),
             sum(col("o_orderkey")).as("key_sum"))
        .orderBy("o_orderpriority")
    }),

    "q_incremental_agg" -> ((s, dir) => {
      // materialized-view maintenance: the rollup of the OLD snapshot
      // plus the CDC delta must equal the full recompute over the NEW
      // snapshot (the oracle) — without rescanning old detail
      val orders = s.read.parquet(s"$dir/orders.parquet")
        .select(col("o_orderkey"), col("o_orderpriority"))
      val old = orders.where(col("o_orderkey") % 7 =!= 0)
      val nw = orders.where(col("o_orderkey") % 5 =!= 0)
      val base = graft.operators.IncrementalAgg
        .rollup(old, Seq("o_orderpriority"), Seq("o_orderkey"))
      val inserts = nw.join(old, Seq("o_orderkey"), "left_anti")
      val deletes = old.join(nw, Seq("o_orderkey"), "left_anti")
      graft.operators.IncrementalAgg
        .applyDelta(base, inserts, deletes,
                    Seq("o_orderpriority"), Seq("o_orderkey"))
        .orderBy("o_orderpriority")
    }),

    "q_bucketed_join" -> ((s, dir) => {
      // co-located join: both sides written bucketed on the join key
      // (the repeated-join discipline at 100 TB) — the join then
      // plans with NO exchange on either side (PlanShapeSpec pins
      // it); managed tables drop afterwards, leaving no state
      val o = s.read.parquet(s"$dir/orders.parquet")
        .select(col("o_orderkey"), col("o_custkey"))
      val c = s.read.parquet(s"$dir/customer.parquet")
        .select(col("c_custkey"), col("c_mktsegment"))
      graft.sources.Bucketing.writeBucketed(o, "graft_b_orders",
                                            "o_custkey", 8)
      graft.sources.Bucketing.writeBucketed(c, "graft_b_cust",
                                            "c_custkey", 8)
      val rows = graft.sources.Bucketing
        .readBucketed(s, "graft_b_orders")
        .join(graft.sources.Bucketing.readBucketed(s, "graft_b_cust"),
              col("o_custkey") === col("c_custkey"))
        .groupBy("c_mktsegment")
        .agg(count(lit(1)).as("n_orders"),
             sum(col("o_orderkey")).as("key_sum"))
        .orderBy("c_mktsegment")
        .collect().toSeq
      s.sql("DROP TABLE IF EXISTS graft_b_orders")
      s.sql("DROP TABLE IF EXISTS graft_b_cust")
      import s.implicits._
      rows.map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
        .toDF("c_mktsegment", "n_orders", "key_sum")
    }),

    "q_densify" -> ((s, dir) => {
      // gap-filled daily activity: densify each user's day spine,
      // then the active/dormant census per day — integer-only
      val e = s.read.parquet(s"$dir/events.parquet")
        .select(col("user_id"), col("ts").cast("timestamp").as("ts"))
      graft.operators.Temporal
        .densify(e, "user_id", "ts", periodSeconds = 86400L)
        .groupBy("period")
        .agg(count(when(col("n_events") === 0, 1)).as("dormant"),
             count(when(col("n_events") > 0, 1)).as("active"),
             sum(col("n_events")).as("n_events"))
        .orderBy("period")
    }),

    "q_stream_attribution" -> ((s, dir) => {
      // STREAMING last-touch attribution: the batch q_attribution
      // operator served online — one time-ordered replayed stream,
      // one fixed-size last-touch record per user, conversions emit
      // with their channel as they arrive. Oracle = the batch SQL:
      // stream and batch paths must agree row-for-row
      val ev = T(s, dir, "events")
        .select(col("user_id"), col("ts").cast("timestamp").as("ts"),
                col("event_id"), col("event_type"))
      val out = replayThirds(s, ev, "ts",
        "user_id BIGINT, ts TIMESTAMP, event_id BIGINT, " +
        "event_type STRING", "graft_stream_attr") { stream =>
        graft.streaming.StreamingAttribution.attribute(
          stream, "user_id", "ts", "event_id", "event_type",
          Seq("view", "click"), "purchase", lookbackSeconds = 86400L,
          watermarkDelay = "1 hour").toDF()
      } { t =>
        t.groupBy("channel")
          .agg(count(lit(1)).as("n"), sum(col("event_id")).as("id_sum"))
          .orderBy("channel")
          .collect().toSeq
      }
      import s.implicits._
      out.map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
        .toDF("channel", "n", "id_sum")
    }),

    "q_data_quality" -> ((s, dir) => {
      // single-pass table audit: row count, null counts, integer
      // bounds, exact distinct counts — the expectations report
      val o = s.read.parquet(s"$dir/orders.parquet")
      graft.operators.QualityChecks.audit(o,
        nullCols = Seq("o_custkey", "o_orderstatus", "o_orderpriority"),
        boundCols = Seq("o_orderkey", "o_custkey"),
        distinctCols = Seq("o_orderkey", "o_orderstatus"))
    }),

    "q_streaks" -> ((s, dir) => {
      // distribution of per-user longest consecutive-day activity
      // streaks — gaps-and-islands on integer epoch days
      val e = s.read.parquet(s"$dir/events.parquet")
        .select(col("user_id"), col("ts").cast("timestamp").as("ts"))
      graft.operators.Temporal
        .activityStreaks(e, "user_id", "ts", periodSeconds = 86400L)
        .groupBy("max_streak")
        .agg(count(lit(1)).as("n_users"),
             sum(col("user_id")).as("user_sum"))
        .orderBy("max_streak")
    }),

    "q_jsonl_roundtrip" -> ((s, dir) => {
      // JSONL sink+source: write the documents metadata as JSON lines,
      // read it back with an explicit schema (schema inference is a
      // second full scan — never at 100 TB), aggregate per source.
      // Matching the direct-parquet oracle proves the round-trip
      // preserves every value exactly
      val d = s.read.parquet(s"$dir/documents.parquet")
        .select("doc_id", "source", "lang", "n_chars")
      val tmp = "target/tmp/docs_sink.jsonl"
      d.write.mode("overwrite").json(tmp)
      s.read.schema("doc_id LONG, source STRING, lang STRING, " +
                    "n_chars LONG")
        .json(tmp)
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
             sum(col("n_chars")).as("sum_chars"),
             countDistinct(col("lang")).as("n_langs"))
        .orderBy("source")
    }),

    "q_pagerank" -> ((s, dir) => {
      // 2-iteration integer PageRank over the symmetrized repeat
      // co-purchase graph; top-20 by (scaled rank desc, id)
      val li = s.read.parquet(s"$dir/lineitem.parquet")
      val edges = graft.operators.MarketBasket
        .coOccurrence(li, "l_orderkey", "l_partkey")
        .where(col("n") >= 2)
      val sym = edges.select(col("item_a").as("src"),
                             col("item_b").as("dst"))
        .unionByName(edges.select(col("item_b").as("src"),
                                  col("item_a").as("dst")))
      graft.operators.Graph.pageRank(sym, "src", "dst", iterations = 2)
        .orderBy(col("rank").desc, col("v"))
        .limit(20)
    }),

    "q_triangles" -> ((s, dir) => {
      // triangle census of the repeat co-purchase graph (pairs sharing
      // >= 2 orders): degree-ordered orientation bounds the wedge join
      val li = s.read.parquet(s"$dir/lineitem.parquet")
      val edges = graft.operators.MarketBasket
        .coOccurrence(li, "l_orderkey", "l_partkey")
        .where(col("n") >= 2)
      graft.operators.Graph
        .triangleStats(edges, "item_a", "item_b")
    }),

    "q_copurchase" -> ((s, dir) => {
      // market-basket: top-20 part pairs sharing an order, count desc
      // with full (n, part_a, part_b) tiebreak — deterministic limit
      val li = s.read.parquet(s"$dir/lineitem.parquet")
      graft.operators.MarketBasket
        .coOccurrence(li, "l_orderkey", "l_partkey")
        .orderBy(col("n").desc, col("item_a"), col("item_b"))
        .limit(20)
    }),

    "q_ngram_novelty" -> ((s, dir) => {
      // per-source trigram novelty: how much of each source's shingle
      // mass exists nowhere else — integer gram counts only
      val d = s.read.parquet(s"$dir/documents.parquet")
      graft.pipeline.Dedup
        .ngramNovelty(d, "doc_id", "text", "source", n = 3)
        .orderBy("source")
    }),

    "q_markov_attribution" -> ((s, dir) => {
      // Markov removal-effect attribution over (user, day) journeys:
      // exact BIGINT transition counts from ONE user-sharded lag
      // window (journeys truncated at the first purchase), then the
      // absorption solve — (I-Q)x = r base chain + one removal chain
      // per channel — runs as the shared-IR program, so the oracle
      // re-derives the SAME bit-identical effects/shares from data at
      // ANY SF (born de-pinned; the ExactFit discipline applied to a
      // Markov linear system)
      val ev = T(s, dir, "events")
      val key = concat(col("user_id").cast("string"), lit("_"),
                       to_date(col("ts")).cast("string"))
      MarkovAttribution.removalAttribution(
        ev, key, "event_type", "ts", "event_id", attrChannels,
        "purchase")
    }),

    "q_shapley_attribution" -> ((s, dir) => {
      // Shapley-value attribution on the same (user, day) journeys:
      // per-journey exposure bitmask + converted flag (one aggregate),
      // per-exact-set counts (<= 2^k rows), then the coalition values
      // v(S) = converted-journeys-with-set-subset-of-S / journeys and
      // the factorial-weighted marginal sums as the shared-IR program
      // — every number an exact-integer ratio both engines derive
      // identically at any SF
      val ev = T(s, dir, "events")
      val key = concat(col("user_id").cast("string"), lit("_"),
                       to_date(col("ts")).cast("string"))
      MarkovAttribution.shapleyAttribution(
        ev, key, "event_type", "ts", "event_id", attrChannels,
        "purchase")
    }),

    "q_stream_attrib" -> ((s, dir) => {
      // Markov attribution maintained INCREMENTALLY: events replay as
      // a 3-trigger file stream SPLIT BY USER (journeys are
      // (user, day)-scoped, so every trigger carries complete
      // journeys); foreachBatch computes each batch's exact
      // transition counts with the BATCH operator and accumulates
      // them driver-side (the q_stream_rollup sketch-state pattern —
      // transition counts over complete journeys are additive), and
      // the final attribution is the identical IR solve. Stream ==
      // batch by construction: the oracle is q_markov_attribution's,
      // verbatim.
      val e = T(s, dir, "events")
        .where(col("ts").isNotNull && col("event_type").isNotNull &&
               col("user_id").isNotNull)
        .select("event_id", "user_id", "event_type", "ts")
      val stage = tmpWorkDir("graft_attr_stage")
      stageBatchesOnePass(e, pmod(col("user_id"), lit(3)), 3, stage,
                          Seq("event_id"))
      stampStageMtimes(stage, 3)
      val staged = s.readStream
        .schema("event_id BIGINT, user_id BIGINT, " +
                "event_type STRING, ts TIMESTAMP_NTZ")
        .option("maxFilesPerTrigger", 1)
        .option("recursiveFileLookup", "true")
        .parquet(stage)
      // foreachBatch runs on the driver; the accumulated map is
      // bounded by (states x states), never data
      val acc = scala.collection.mutable
        .Map.empty[(String, String), Long]
      val ckpt = tmpWorkDir("graft_attr_ckpt")
      try {
        val q = staged.writeStream.outputMode("append")
          .foreachBatch { (batch: DataFrame, _: Long) =>
            val key = concat(col("user_id").cast("string"), lit("_"),
                             to_date(col("ts")).cast("string"))
            MarkovAttribution.journeyTransitions(
              batch, key, "event_type", "ts", "event_id", "purchase")
              .collect().foreach { r =>
                val k0 = (r.getString(0), r.getString(1))
                acc(k0) = acc.getOrElse(k0, 0L) + r.getLong(2)
              }
            ()
          }
          .option("checkpointLocation", ckpt).start()
        try { q.processAllAvailable() } finally q.stop()
      } finally {
        // /dev/shm space must not leak across bench iterations even
        // when the stream throws
        deleteRecursively(stage); deleteRecursively(ckpt)
      }
      MarkovAttribution.fromTransitionCounts(s, acc.toMap, attrChannels)
    }),

    "q_stream_neardup" -> ((s, dir) => {
      // MinHash-LSH near-dup detection maintained INCREMENTALLY — the
      // 100-TB ingest shape: documents replay as a 3-trigger file
      // stream, foreachBatch computes each NEW batch's banded
      // signatures (each document shingled + minhashed exactly ONCE,
      // on arrival) and APPENDS them to an incremental signature
      // store; banding is a stateless per-row map, so the store's
      // union of per-batch rows == the one-shot batch banding
      // EXACTLY, and candidate generation over the accumulated store
      // (one bucketed shuffle, star-guarded) is the identical batch
      // operator. Stream == batch by construction: the oracle is
      // q_minhash_bands' verbatim. At scale the signature store is
      // ~numHashes longs per doc — the corpus is never re-read.
      val d = T(s, dir, "documents").select("doc_id", "text")
      val stage = tmpWorkDir("graft_neardup_stage")
      stageBatchesOnePass(d, pmod(col("doc_id"), lit(3)), 3, stage,
                          Seq("doc_id"))
      stampStageMtimes(stage, 3)
      val staged = s.readStream
        .schema("doc_id BIGINT, text STRING")
        .option("maxFilesPerTrigger", 1)
        .option("recursiveFileLookup", "true")
        .parquet(stage)
      val sigStore = tmpWorkDir("graft_neardup_sigs")
      val ckpt = tmpWorkDir("graft_neardup_ckpt")
      val out = try {
        val q = staged.writeStream.outputMode("append")
          .foreachBatch { (batch: DataFrame, bid: Long) =>
            // batchId-keyed overwrite, NOT append: foreachBatch is
            // at-least-once, and a retried append would duplicate
            // signature rows (inflating bucket sizes past the star
            // guard); overwriting the batch's own directory makes
            // the signature store idempotent under replay
            Dedup.withMinhashBands(batch, "text", "doc_id",
                                   numHashes = 32, bands = 8,
                                   shingleLen = 5, portable = true)
              .write.mode("overwrite")
              .parquet(s"$sigStore/sig/batch=$bid")
            ()
          }
          .option("checkpointLocation", ckpt).start()
        try { q.processAllAvailable() } finally q.stop()
        Dedup.candidatesFromBanded(
            s.read.parquet(s"$sigStore/sig")
              .select("id", "band", "bh")) // drop the batch= key
          .agg(count(lit(1)).as("n_candidate_pairs"),
               countDistinct(col("id_a")).as("n_left_docs"))
          .collect()
      } finally {
        deleteRecursively(stage); deleteRecursively(ckpt)
        deleteRecursively(sigStore)
      }
      s.createDataFrame(
        s.sparkContext.parallelize(out.toSeq, 1),
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField(
            "n_candidate_pairs",
            org.apache.spark.sql.types.LongType, nullable = false),
          org.apache.spark.sql.types.StructField(
            "n_left_docs",
            org.apache.spark.sql.types.LongType, nullable = false))))
    }),

    "q_stream_logreg" -> ((s, dir) => {
      // the exact logistic maintained INCREMENTALLY: every per-row
      // quantity in ExactLogit depends only on (x, y), so the
      // (x, y) HISTOGRAM is a sufficient statistic — and it is a
      // bounded additive monoid (|quantity domain| x 2 cells, ~100
      // here), so lineitem replays as a 3-trigger file stream,
      // foreachBatch folds each batch's cell counts into a driver
      // map bounded by the DOMAIN (never the data), and the final
      // fit runs the identical quantized-Newton chain on weighted
      // cells (an exact integer identity with the row fit — see
      // ExactLogit.fitFromCells). Stream == batch by construction:
      // the oracle is q_logreg_exact's verbatim. At 100 TB this is
      // also the cheap path: ONE corpus pass ever, all Newton
      // iterations on the cell table.
      val li = T(s, dir, "lineitem")
        .where(col("l_quantity").isNotNull)
        .select(col("l_orderkey"), col("l_linenumber"),
                round(col("l_quantity")).cast("long").as("x"),
                when(col("l_returnflag") === "R", 1L).otherwise(0L)
                  .as("y"))
      val stage = tmpWorkDir("graft_logreg_stage")
      stageBatchesOnePass(li, pmod(col("l_orderkey"), lit(3)), 3,
                          stage, Seq("l_orderkey", "l_linenumber"))
      stampStageMtimes(stage, 3)
      val staged = s.readStream
        .schema("l_orderkey BIGINT, l_linenumber INT, " +
                "x BIGINT, y BIGINT")
        .option("maxFilesPerTrigger", 1)
        .option("recursiveFileLookup", "true")
        .parquet(stage)
      val acc = scala.collection.mutable.Map.empty[(Long, Long), Long]
      val ckpt = tmpWorkDir("graft_logreg_ckpt")
      try {
        val q = staged.writeStream.outputMode("append")
          .foreachBatch { (batch: DataFrame, _: Long) =>
            batch.groupBy("x", "y").agg(count(lit(1)).as("c"))
              .collect().foreach { r =>
                val k = (r.getLong(0), r.getLong(1))
                acc(k) = acc.getOrElse(k, 0L) + r.getLong(2)
              }
            ()
          }
          .option("checkpointLocation", ckpt).start()
        try { q.processAllAvailable() } finally q.stop()
      } finally {
        deleteRecursively(stage); deleteRecursively(ckpt)
      }
      import s.implicits._
      val cells = acc.toSeq.map { case ((x, y), c) => (x, y, c) }
        .toDF("x", "y", "c")
      val f = graft.core.ExactLogit.fitFromCells(
        cells, col("x"), col("y"), col("c"), iters = 3)
      Seq((f.n, f.beta0, f.beta1, f.sumMuQ.longValueExact))
        .toDF("n", "beta0", "beta_qty", "sum_mu_q24")
    }),

    "q_stream_linreg" -> ((s, dir) => {
      // the exact OLS maintained INCREMENTALLY: lineitem replays as a
      // 3-trigger file stream split by ORDER (the regression's unit —
      // each trigger carries complete per-order rollups), foreachBatch
      // accumulates the batch's exact DECIMAL moments as BigDecimals
      // (exact integer sums — additive across disjoint batches by
      // construction), and the final fit is the identical IR solve.
      // Stream == batch exactly, so the oracle is q_linreg_exact's
      // verbatim.
      val li = T(s, dir, "lineitem")
        .where(col("l_quantity").isNotNull &&
               col("l_extendedprice").isNotNull)
        .select("l_orderkey", "l_linenumber", "l_quantity",
                "l_extendedprice")
      val stage = tmpWorkDir("graft_linreg_stage")
      stageBatchesOnePass(li, pmod(col("l_orderkey"), lit(3)), 3,
                          stage, Seq("l_orderkey", "l_linenumber"))
      stampStageMtimes(stage, 3)
      val staged = s.readStream
        .schema("l_orderkey BIGINT, l_linenumber INT, " +
                "l_quantity DOUBLE, l_extendedprice DOUBLE")
        .option("maxFilesPerTrigger", 1)
        .option("recursiveFileLookup", "true")
        .parquet(stage)
      val spec = graft.core.ExactFit.OLSSpec(
        Seq(1L, 10L), 1L, Seq(8.0, 4096.0))
      // driver-held exact accumulator, bounded by the moment count
      val acc = scala.collection.mutable
        .Map.empty[String, java.math.BigDecimal]
      val ckpt = tmpWorkDir("graft_linreg_ckpt")
      try {
        val q = staged.writeStream.outputMode("append")
          .foreachBatch { (batch: DataFrame, _: Long) =>
            val po = batch.groupBy(col("l_orderkey"))
              .agg(count(lit(1)).as("cnt"),
                   sum(col("l_quantity")).as("sq"),
                   sum(round(col("l_extendedprice") * 100)
                         .cast("long")).as("cents"))
            graft.core.ExactFit.olsMomentRow(
              po, Seq(col("cnt"), col("sq")), col("cents"), spec)
              .foreach { case (k, v) =>
                acc(k) = acc.getOrElse(k, java.math.BigDecimal.ZERO)
                  .add(v)
              }
            ()
          }
          .option("checkpointLocation", ckpt).start()
        try { q.processAllAvailable() } finally q.stop()
      } finally {
        deleteRecursively(stage); deleteRecursively(ckpt)
      }
      val f = graft.core.ExactFit.fitOLSFromMoments(acc.toMap, spec)
      import s.implicits._
      Seq(acc.getOrElse("n", java.math.BigDecimal.ZERO).longValue)
        .toDF("n")
        .withColumn("intercept4", round(lit(f.intercept / 100.0), 4))
        .withColumn("b_lines4", round(lit(f.slope(0) / 100.0), 4))
        .withColumn("b_qty4", round(lit(f.slope(1) / 100.0), 4))
        .withColumn("r2_6", round(lit(f.r2), 6))
    }),

    "q_linreg_exact" -> ((s, dir) => {
      // exact distributed multiple linear regression on the per-order
      // rollup (order revenue ~ line count + total quantity, R^2 ~.74
      // on this data): one keyed pre-aggregate, then the integer-
      // scaled moments in ONE DECIMAL aggregate and the shared-IR
      // Cramer solve + R^2 — the oracle re-runs the identical solve
      // from data, bit-identical at any SF (born de-pinned; the
      // ExactFit OLS surface)
      val li = T(s, dir, "lineitem")
      val po = li
        .where(col("l_quantity").isNotNull &&
               col("l_extendedprice").isNotNull)
        .groupBy(col("l_orderkey"))
        .agg(count(lit(1)).as("cnt"),
             sum(col("l_quantity")).as("sq"),
             sum(round(col("l_extendedprice") * 100).cast("long"))
               .as("cents"))
      val spec = graft.core.ExactFit.OLSSpec(
        Seq(1L, 10L), 1L, Seq(8.0, 4096.0))
      val f = graft.core.ExactFit.fitOLS(
        po, Seq(col("cnt"), col("sq")), col("cents"), spec)
      po.agg(count(lit(1)).as("n"))
        .withColumn("intercept4", round(lit(f.intercept / 100.0), 4))
        .withColumn("b_lines4", round(lit(f.slope(0) / 100.0), 4))
        .withColumn("b_qty4", round(lit(f.slope(1) / 100.0), 4))
        .withColumn("r2_6", round(lit(f.r2), 6))
    }),

    "q_logreg_exact" -> ((s, dir) => {
      // exact distributed LOGISTIC regression (return-flag ~
      // quantity): the last fitted-model family whose driver solve
      // was not IR-replayed. Transcendentals never run in either
      // engine — the sigmoid evaluates on a 1/256 eta grid via 12
      // StrictMath.exp CONSTANTS (bit-decomposition product, pure
      // +,*,/ and CASE per row), IRLS weights/residuals quantize to
      // 2^-24 integers so each Newton step's moments are exact
      // DECIMAL sums, and the 2x2 Cramer step replays in the oracle's
      // CTE chain. Coefficients ship at FULL precision — the oracle
      // re-derives bit-identical doubles from raw rows at any SF.
      // ONE corpus scan (r12 optimization, guide §2.3/§2.4): x is the
      // rounded quantity — a DOMAIN-bounded integer — so the (x, y)
      // histogram is a sufficient statistic and the fit factors
      // bit-identically through it (ExactLogit.fitFromCells, the
      // q_stream_logreg identity, oracle-proven at 3 SFs). The 4
      // scan-bound aggregates of the row fit collapse to one
      // histogram scan + driver-sized cell passes (<= ~100 cells,
      // inside the documented bounded-aggregate driver gate).
      val li = T(s, dir, "lineitem")
      import s.implicits._
      val cells = collectBoundedCells(
        li.where(col("l_quantity").isNotNull)
          .groupBy(round(col("l_quantity")).cast("long").as("x"),
                   when(col("l_returnflag") === "R", 1L).otherwise(0L)
                     .as("y"))
          .agg(count(lit(1)).as("c")))
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
        .toDF("x", "y", "c")
      val f = graft.core.ExactLogit.fitFromCells(
        cells, col("x"), col("y"), col("c"), iters = 3)
      Seq((f.n, f.beta0, f.beta1, f.sumMuQ.longValueExact))
        .toDF("n", "beta0", "beta_qty", "sum_mu_q24")
    }),

    "q_logreg_weighted" -> ((s, dir) => {
      // sample-WEIGHTED exact logistic (the weighted-OLS/QP
      // discipline applied to the quantized-Newton chain): the
      // order-priority weight rides into every moment as an exact
      // integer multiplier — weighted == row-replicated
      // bit-identically (unit-proven), zero-weight rows invisible.
      // n and the predicted-event mass are weight totals.
      // ONE join pass (r12 optimization): the weight is an integer
      // replication count, so sum_rows w*f(x,y) = sum_cells (sum w)*f
      // — the weighted histogram keyed (x, y) with cnt = sum(w) is a
      // sufficient statistic, and fitMultiFromCells replays the
      // identical quantized-Newton chain on <= ~100 cells instead of
      // re-running the join for every Newton step (was 4 join scans).
      val li = T(s, dir, "lineitem")
      val ord = T(s, dir, "orders")
      val w = when(col("o_orderpriority") === "1-URGENT", 3L)
        .when(col("o_orderpriority") === "2-HIGH", 2L).otherwise(1L)
      val joined = li.join(
        ord.select(col("o_orderkey"), w.as("w")),
        col("l_orderkey") === col("o_orderkey"))
      import s.implicits._
      val cells = collectBoundedCells(
        joined.where(col("l_quantity").isNotNull)
          .groupBy(round(col("l_quantity")).cast("long").as("x"),
                   when(col("l_returnflag") === "R", 1L).otherwise(0L)
                     .as("y"))
          .agg(sum(col("w")).as("c")))
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
        .toDF("x", "y", "c")
      val f = graft.core.ExactLogit.fitMultiFromCells(
        cells, Seq(col("x")),
        col("y"), col("c"), iters = 3)
      Seq((f.n, f.beta(0), f.beta(1), f.sumMuQ.longValueExact))
        .toDF("w_total", "beta0", "beta_qty", "sum_mu_q24")
    }),

    "q_score_calibrate" -> ((s, dir) => {
      // SCORECARD CALIBRATION as an exact distributed fit: a deployed
      // integer-point scorecard (bin -> points CASE chains — the
      // artifact a scorecard actually ships, cf. the reference's
      // rounded points surface, scorecard.py rounding_mip) is
      // re-calibrated to PD on fresh rows via the quantized-Newton
      // logistic (PD ~ points), then audited per score band:
      // observed events vs the model's predicted event mass (the
      // exact 2^-24 integer muq — a Hosmer-Lemeshow readout with
      // zero float-summation noise). Betas replay bit-identically in
      // the oracle's IR chain and every band row is re-derived from
      // raw rows, so the whole thing is strict at ANY SF.
      val li = T(s, dir, "lineitem")
      val pricePts = when(col("l_extendedprice") < 25000.0, 12L)
        .when(col("l_extendedprice") < 50000.0, 35L)
        .when(col("l_extendedprice") < 75000.0, 58L).otherwise(80L)
      val qtyPts = when(col("l_quantity") < 10.0, 20L)
        .when(col("l_quantity") < 25.0, 45L)
        .when(col("l_quantity") < 40.0, 65L).otherwise(85L)
      val clean = li.where(col("l_extendedprice").isNotNull &&
                           col("l_quantity").isNotNull)
      val y = when(col("l_returnflag") === "R", 1L).otherwise(0L)
      // ONE corpus scan (r12 optimization): the scorecard's points
      // are 4x4 CASE bins, so the (pricePts, qtyPts, y) histogram —
      // <= 32 cells, domain-bounded — is a sufficient statistic for
      // BOTH the quantized-Newton fit (fitMultiFromCells, the proven
      // cnt==replication identity) AND the per-band audit readout
      // (band, n, events, muq all depend only on the cell key). Was
      // 5 corpus scans: 3 Newton + 1 readout + 1 band aggregate.
      import s.implicits._
      val cells = collectBoundedCells(
        clean
          .groupBy(pricePts.as("x0"), qtyPts.as("x1"), y.as("y"))
          .agg(count(lit(1)).as("c")))
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
                   r.getLong(3))).toSeq
        .toDF("x0", "x1", "y", "c")
      val f = graft.core.ExactLogit.fitMultiFromCells(
        cells, Seq(col("x0"), col("x1")), col("y"), col("c"),
        iters = 3)
      val (_, _, muq) = graft.core.ExactLogit.rowColsK(
        Seq(col("x0"), col("x1")), col("y"), f.beta)
      val pts = col("x0") + col("x1")
      val band = when(pts < 80, 0L).when(pts < 110, 1L)
        .when(pts < 140, 2L).otherwise(3L)
      // per-row sums factor through the cells exactly: n = sum c,
      // events = sum c*y, pred = sum c*muq (muq is a function of the
      // cell key alone; the c multiply runs in DECIMAL like the fit)
      cells.groupBy(band.as("band"))
        .agg(sum(col("c")).as("n"),
             sum(col("c") * col("y")).as("events"),
             sum(col("c").cast("decimal(38,0)") *
                 muq.cast("decimal(38,0)")).cast("long")
               .as("pred_q24"))
        .withColumn("beta0", lit(f.beta(0)))
        .withColumn("beta_price", lit(f.beta(1)))
        .withColumn("beta_qty", lit(f.beta(2)))
        .orderBy("band")
    }),

    "q_bootstrap_ci" -> ((s, dir) => {
      // ONE-PASS POISSON BOOTSTRAP: 32 bootstrap replicas of the
      // mean order value WITHOUT resampling the data — each
      // (row, replica) draws a Poisson(1) replication weight from an
      // md5-uniform (deterministic, engine-portable), via the
      // shipped cumulative-CDF hex constants (poissonCdfHex). One
      // scan fans out 32x inside the aggregate (broadcast spine, no
      // extra shuffle; 32 groups, map-side combined), sums stay
      // exact integers (cents x weight in DECIMAL), and the per-
      // replica mean is ONE double division of identical integers —
      // every replica row and the order-statistic 90% CI bounds are
      // bit-identical across engines at any SF. The 100 TB story:
      // uncertainty quantification in one pass, driver sees 32 rows.
      val reps = 32
      // bounded driver gate: ONE aggregate pass collects the 32
      // replica rows; the order-stat CI and the returned frame are
      // built from them on the driver (persist-free — materializing
      // a cache runs the child plan interpreted, measured 17.8 s vs
      // 1.9 s codegen'd for this md5-heavy scan)
      val rows = bootstrapStats(s, dir, reps).collect()
      val means = rows.map(_.getDouble(3)).sorted
      import s.implicits._
      rows.map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
                     r.getDouble(3), means(1), means(reps - 2)))
        .toSeq
        .toDF("b", "n_eff", "sum_cents", "mean_cents",
              "ci90_lo", "ci90_hi")
        .orderBy("b")
    }),

    "q_logreg_multi" -> ((s, dir) => {
      // MULTI-feature exact logistic (return-flag ~ quantity +
      // discount-pct): the quantized-Newton chain with the 3x3
      // Cramer step expressed in ExactFit's shared IR — one Def
      // program evaluated on the driver and rendered to the oracle's
      // layered CTEs, so the step generalizes to any k with zero new
      // hand-paired formulas. Full-precision coefficient parity at
      // any SF, same contract as q_logreg_exact.
      // ONE corpus scan (r12 optimization): both features are
      // domain-bounded integers (qty <= ~50, disc-pct <= ~10), so
      // the (x0, x1, y) histogram — ~1000 cells — is a sufficient
      // statistic and fitMultiFromCells replays the identical
      // IR-stepped chain on the cells (was 4 corpus scans).
      val li = T(s, dir, "lineitem")
      import s.implicits._
      val cells = collectBoundedCells(
        li.where(col("l_quantity").isNotNull &&
                 col("l_discount").isNotNull)
          .groupBy(round(col("l_quantity")).cast("long").as("x0"),
                   round(col("l_discount") * 100).cast("long").as("x1"),
                   when(col("l_returnflag") === "R", 1L).otherwise(0L)
                     .as("y"))
          .agg(count(lit(1)).as("c")))
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
                   r.getLong(3))).toSeq
        .toDF("x0", "x1", "y", "c")
      val f = graft.core.ExactLogit.fitMultiFromCells(
        cells, Seq(col("x0"), col("x1")), col("y"), col("c"),
        iters = 3)
      Seq((f.n, f.beta(0), f.beta(1), f.beta(2),
           f.sumMuQ.longValueExact))
        .toDF("n", "beta0", "beta_qty", "beta_disc", "sum_mu_q24")
    }),

    "q_pw_quadratic" -> ((s, dir) => {
      // exact distributed QUADRATIC spline fit — the ExactFit OLS
      // surface COMPOSES: a C¹ piecewise-quadratic at the pinned
      // knots is ordinary least squares on the truncated-power basis
      // {X, X², (X-T1)²₊, (X-T2)²₊}, and every basis value is an
      // exact INTEGER (X = 10·qty ≤ 500, squares ≤ 2.5e5), so the
      // whole curve fit is ONE DECIMAL moment aggregate + the shared
      // Cramer IR — bit-identical in SQL at any SF, zero new solver
      // code. Curve values at probe points are closed forms of the
      // coefficients over integer basis constants.
      val li = T(s, dir, "lineitem")
        .where(col("l_quantity").isNotNull &&
               col("l_extendedprice").isNotNull)
      val X = round(col("l_quantity") * 10).cast("long")
      def sq(c: Column): Column = c * c
      val basis = Seq(
        X, sq(X), sq(greatest(lit(0L), X - 235L)),
        sq(greatest(lit(0L), X - 475L)))
      val spec = graft.core.ExactFit.OLSSpec(
        Seq(1L, 1L, 1L, 1L), 100L,
        Seq(256.0, 65536.0, 32768.0, 512.0))
      val f = graft.core.ExactFit.fitOLS(
        li, basis.map(_.cast("double")), col("l_extendedprice"), spec)
      // curve in RAW dollars at X0 = {100, 300, 500} (qty 10/30/50):
      // (w_a + sum w_b_i * B_i(X0)) / yScale — integer basis consts
      def curve(x0: Long): Double = {
        val b = Seq(x0, x0 * x0,
                    math.max(0L, x0 - 235L) * math.max(0L, x0 - 235L),
                    math.max(0L, x0 - 475L) * math.max(0L, x0 - 475L))
        (f.values("w_a") +
         b.zipWithIndex.map { case (v, i) =>
           f.values(s"w_b$i") * v.toDouble }.sum) / 100.0
      }
      import s.implicits._
      Seq(1).toDF("one").select(
        round(lit(f.values("w_a") / 100.0), 4).as("intercept4"),
        round(lit(curve(100L)), 4).as("at_qty10"),
        round(lit(curve(300L)), 4).as("at_qty30"),
        round(lit(curve(500L)), 4).as("at_qty50"),
        round(lit(f.r2), 6).as("r2_6"))
    }),

    "q_linreg_weighted" -> ((s, dir) => {
      // sample-WEIGHTED exact OLS + ridge, BOTH solved from the SAME
      // single moment aggregate: the q_linreg_exact per-order rollup
      // importance-weighted by order priority (urgent 3x, high 2x,
      // rest 1x — the `model_data.py:75-90` weighted-stats
      // precedent). Integer weights keep every moment an exact
      // DECIMAL sum, and the ridge solve only adds an exact constant
      // to the equilibrated normal diagonal, so both fits stay
      // inside the shared-IR +,-,*,/ closure — bit-identical in SQL
      // at any SF. The priority lookup is a broadcast-sized column
      // already on orders; the join is 1:1 on the rollup key.
      val li = T(s, dir, "lineitem")
      val w = when(col("o_orderpriority") === "1-URGENT", 3L)
        .when(col("o_orderpriority") === "2-HIGH", 2L)
        .otherwise(1L)
      val po = li
        .where(col("l_quantity").isNotNull &&
               col("l_extendedprice").isNotNull)
        .groupBy(col("l_orderkey"))
        .agg(count(lit(1)).as("cnt"),
             sum(col("l_quantity")).as("sq"),
             sum(round(col("l_extendedprice") * 100).cast("long"))
               .as("cents"))
        .join(T(s, dir, "orders")
                .select(col("o_orderkey"), w.as("w")),
              col("l_orderkey") === col("o_orderkey"))
      val spec = graft.core.ExactFit.OLSSpec(
        Seq(1L, 10L), 1L, Seq(8.0, 4096.0))
      val specRidge = spec.copy(ridgeLambda = 1000.0)
      val aggs = graft.core.ExactFit
        .olsMomentAggsWeighted(spec, Seq(col("cnt"), col("sq")),
                               col("cents"), col("w"))
      val row = po.agg(aggs.head, aggs.tail: _*).head()
      val moments = graft.core.ExactFit.olsMomentNames(spec)
        .zipWithIndex.map { case (nm, i) =>
          nm -> (row.get(i) match {
            case d: java.math.BigDecimal  => d
            case d: scala.math.BigDecimal => d.bigDecimal
            case l: java.lang.Long => java.math.BigDecimal.valueOf(l)
            case null => java.math.BigDecimal.ZERO
            case x => throw new IllegalStateException(s"$nm: $x")
          })
        }.toMap
      val f = graft.core.ExactFit.fitOLSFromMoments(moments, spec)
      val fr = graft.core.ExactFit.fitOLSFromMoments(moments, specRidge)
      import s.implicits._
      Seq(moments("n").longValue).toDF("w_total")
        .withColumn("intercept4", round(lit(f.intercept / 100.0), 4))
        .withColumn("b_lines4", round(lit(f.slope(0) / 100.0), 4))
        .withColumn("b_qty4", round(lit(f.slope(1) / 100.0), 4))
        .withColumn("r2_6", round(lit(f.r2), 6))
        .withColumn("ridge_intercept4",
                    round(lit(fr.intercept / 100.0), 4))
        .withColumn("ridge_b_lines4",
                    round(lit(fr.slope(0) / 100.0), 4))
        .withColumn("ridge_b_qty4",
                    round(lit(fr.slope(1) / 100.0), 4))
        .withColumn("ridge_r2_6", round(lit(fr.r2), 6))
    }),

    "q_attribution" -> ((s, dir) => {
      // last-touch attribution: purchases credited to the user's most
      // recent view/click within a 1-day lookback, else 'direct';
      // integer channel counts + id checksum
      val e = s.read.parquet(s"$dir/events.parquet")
        .select(col("user_id"), col("event_id"), col("event_type"),
                col("ts").cast("timestamp").as("ts"))
      graft.operators.Funnel
        .lastTouchAttribution(e, "user_id", "ts", "event_id",
                              "event_type", Seq("view", "click"),
                              "purchase", lookbackSeconds = 86400L)
        .groupBy("channel")
        .agg(count(lit(1)).as("n"), sum(col("event_id")).as("id_sum"))
        .orderBy("channel")
    }),

    "q_snapshot_diff" -> ((s, dir) => {
      // CDC between two deterministic snapshots of orders: old drops
      // keys %7==0, new drops %5==0 and bumps o_custkey on %3==0 —
      // yields all three change classes; integer-only summary
      val orders = s.read.parquet(s"$dir/orders.parquet")
      val old = orders.where(col("o_orderkey") % 7 =!= 0)
        .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"))
      val nw = orders.where(col("o_orderkey") % 5 =!= 0)
        .select(col("o_orderkey"),
                when(col("o_orderkey") % 3 === 0, col("o_custkey") + 1)
                  .otherwise(col("o_custkey")).as("o_custkey"),
                col("o_orderstatus"))
      graft.operators.Temporal
        .snapshotDiff(old, nw, Seq("o_orderkey"),
                      Seq("o_custkey", "o_orderstatus"))
        .groupBy("change")
        .agg(count(lit(1)).as("n"),
             sum(col("o_orderkey")).as("key_sum"))
        .orderBy("change")
    }),

    "q_topk_per_group" -> ((s, dir) => {
      // top-3 documents per language by char count: bounded-state
      // native aggregate (O(k) per group, map-side combined) instead
      // of a full window sort — survives one language owning half
      // the corpus
      val d = s.read.parquet(s"$dir/documents.parquet")
      graft.operators.Ranking
        .topkPerGroup(d, Seq("lang"), "n_chars", "doc_id", k = 3)
        .orderBy("lang", "rank")
    }),

    "q_group_median" -> ((s, dir) => {
      // exact per-group lower median (k-th smallest element, k =
      // ceil(n/2)) over the (group, value)-histogram — no
      // interpolation, so the median is a raw parquet value both
      // engines hold byte-identically
      val li = T(s, dir, "lineitem")
      graft.operators.Histograms
        .groupedLowerMedian(li, "l_returnflag", "l_extendedprice")
        .orderBy("l_returnflag")
    }),

    "q_rolling_stats" -> ((s, dir) => {
      // per-user rolling time-series features (trailing-4-row quantized
      // sum + step delta, (ts, event_id) order), integer-only checksums
      // per event type — one shuffle on user_id, one shared window sort
      // null-ts guard in BOTH engines: Spark windows order nulls
      // FIRST, DuckDB orders them LAST by default — a null ts would
      // shift every frame in that user's partition differently
      val e = s.read.parquet(s"$dir/events.parquet")
        .select(col("user_id"), col("ts").cast("timestamp").as("ts"),
                col("event_id"), col("event_type"), col("value"))
        .where(col("ts").isNotNull)
      graft.streaming.EventWindows
        .rollingFeatures(e, "user_id", "ts", "event_id", "value",
                         lookback = 3)
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"),
             sum(col("roll_sum_q")).as("roll_q_sum"),
             sum(abs(col("delta_q"))).as("abs_delta_sum"),
             count(col("delta_q")).as("n_delta"))
        .orderBy("event_type")
    }),

    "q_bigram_lm" -> ((s, dir) => {
      // corpus bigram-LM head: top-20 adjacent pairs with exact
      // integer-ppm conditional probability of w2 given w1
      val d = T(s, dir, "documents")
      TextAnalysis.bigramTopK(d, "text", k = 20)
    }),

    "q_funnel" -> ((s, dir) => {
      // ordered-sequence conversion funnel: signup -> view -> click ->
      // purchase, each step strictly after the user's earliest
      // completion of the previous one. Chained per-step min-ts
      // aggregates + equi-joins on user (no window over full history);
      // integer-only surface (counts + user-id checksums)
      val e = s.read.parquet(s"$dir/events.parquet")
        .select(col("user_id"), col("ts").cast("timestamp").as("ts"),
                col("event_type"))
      graft.operators.Funnel.funnelCounts(
        e, "user_id", "ts", "event_type",
        Seq("signup", "view", "click", "purchase"))
    }),

    "q_sketch_binning" -> ((s, dir) => {
      // streaming/mergeable sketch binning: per-half sketches built in
      // ONE grouped scan (addGrouped — partial add per partition,
      // cross-group merge in group order), then solved. De-pinned (r9):
      // fixed USER splits make the solved splits query constants, and
      // the sketch is verified by two SF-independent invariants the
      // oracle can state — the sketch's record count is EXACT (n is a
      // plain counter through add/merge), and every per-bin estimated
      // count sits within the GK guarantee |est - exact| <= 2*eps*n
      // (each bin count is a difference of two eps*n-bounded ranks).
      // Exact per-bin (count, event) still re-aggregate over the raw
      // table. The GK-SOLVED-splits path (not SQL-expressible) stays
      // covered by the stream==batch property suites.
      val li = liTarget(T(s, dir, "lineitem"))
      val eps = 1e-3
      val sk = new graft.streaming.OptimalBinningSketch(
        BinningConfig(name = "l_extendedprice",
          userSplits = Some(liSplits), monotonicTrend = None,
          userSplitsFixed = Some(Array.fill(liSplits.length)(true))),
        eps = eps)
      sk.addGrouped(li, col("l_orderkey") % 2, "l_extendedprice", "y")
      val fitted = sk.solve()
      val sp = fitted.splits
      val (estE, estNe) = sk.sketch.bins(sp)
      val nSketch = sk.sketch.n
      import s.implicits._
      val est = estE.indices
        .map(i => (i.toLong, estE(i) + estNe(i))).toDF("bin", "__est")
      li.groupBy(binIdx(col("l_extendedprice"), sp).cast("long").as("bin"))
        .agg(count(lit(1)).as("count"), sum(col("y")).cast("long")
          .as("event"))
        .join(broadcast(est), Seq("bin"))
        .select(col("bin"), col("count"), col("event"),
                lit(sp.mkString(",")).as("splits"),
                lit(nSketch).as("n_sketch"),
                (abs(col("__est") - col("count")) <=
                   lit(2.0 * eps) * lit(nSketch.toDouble))
                  .cast("long").as("eps_ok"))
        .orderBy("bin")
    }),

    "q_sketch_tdigest" -> ((s, dir) => {
      // t-digest-backed sketch binning (`bsketch.py:16,101-103`
      // sketch="t-digest" alternative): the same one-grouped-scan
      // add + cross-group merge + solve chain as q_sketch_binning with
      // the merging-digest quantile sketch underneath. Fixed USER
      // splits keep the oracle SF-independent; the digest is verified
      // by the same two invariants — the record count is EXACT (a
      // plain counter through add/merge), and every per-bin estimated
      // count sits within a 2.5%-of-n audit tolerance (the t-digest
      // has no GK-style hard rank bound: centroid mass straddling a
      // split misassigns whole centroids, and the merge-order-dependent
      // centroid layout moves the estimate run to run — measured
      // deviation stays under 1% of n at both SFs, so 2.5% flags a
      // broken digest without flaking; the reference's
      // test_binning_sketch.py uses the same eps-style acceptance).
      val li = liTarget(T(s, dir, "lineitem"))
      val sk = new graft.streaming.OptimalBinningSketch(
        BinningConfig(name = "l_extendedprice",
          userSplits = Some(liSplits), monotonicTrend = None,
          userSplitsFixed = Some(Array.fill(liSplits.length)(true))),
        eps = 1e-3, sketchType = "t-digest")
      sk.addGrouped(li, col("l_orderkey") % 2, "l_extendedprice", "y")
      val fitted = sk.solve()
      val sp = fitted.splits
      val (estE, estNe) = sk.sketch.bins(sp)
      val nSketch = sk.sketch.n
      import s.implicits._
      val est = estE.indices
        .map(i => (i.toLong, estE(i) + estNe(i))).toDF("bin", "__est")
      li.groupBy(binIdx(col("l_extendedprice"), sp).cast("long").as("bin"))
        .agg(count(lit(1)).as("count"), sum(col("y")).cast("long")
          .as("event"))
        .join(broadcast(est), Seq("bin"))
        .select(col("bin"), col("count"), col("event"),
                lit(sp.mkString(",")).as("splits"),
                lit(nSketch).as("n_sketch"),
                (abs(col("__est") - col("count")) <=
                   lit(0.025) * lit(nSketch.toDouble))
                  .cast("long").as("tol_ok"))
        .orderBy("bin")
    }),

    "q_stream_sessions" -> ((s, dir) => {
      // END-TO-END stateful streaming sessionization: the events table
      // replays as a time-ordered file stream (3 sequential range
      // files, one per trigger) through flatMapGroupsWithState with an
      // event-time timeout. Oracle: gaps-and-islands sessionization
      // over the raw table restricted to CLOSED sessions — every
      // session below its user's last, plus last sessions whose
      // (end + gap) fell strictly below the final watermark
      // (max ts - delay), matching FlatMapGroupsWithStateExec's strict
      // timeout eviction. Integer-only aggregates, no float sums.
      // events.ts is TIMESTAMP_NTZ; normalize to UTC TIMESTAMP once at
      // staging (session tz is UTC, so epoch values are unchanged and
      // DuckDB's epoch_ms over the raw NTZ column replays identically)
      val ev = s.read.parquet(s"$dir/events.parquet")
        .select(col("user_id"), col("ts").cast("timestamp").as("ts"),
                col("value"))
      val out = replayThirds(s, ev, "ts",
        "user_id BIGINT, ts TIMESTAMP, value DOUBLE",
        "graft_stream_sessions") { stream =>
        graft.streaming.StreamingSessionize.sessions(
          stream, "user_id", "ts", "value",
          gapSeconds = 3600L, watermarkDelay = "600 seconds").toDF()
      } { t =>
        t.agg(count(lit(1)).as("n_sessions"),
              coalesce(sum(col("n_events")), lit(0L)).cast("long")
                .as("n_events"),
              coalesce(sum(col("end_ms") - col("start_ms")), lit(0L))
                .cast("long").as("span_ms_total"),
              coalesce(sum(col("user_id") * col("n_events")), lit(0L))
                .cast("long").as("id_weighted"))
          .collect().toSeq
      }.head
      import s.implicits._
      Seq((out.getLong(0), out.getLong(1), out.getLong(2),
           out.getLong(3)))
        .toDF("n_sessions", "n_events", "span_ms_total", "id_weighted")
    }),

    "q_stream_binning" -> ((s, dir) => {
      // END-TO-END Structured Streaming binning: the events table is
      // staged as 3 range-partitioned parquet files and replayed as a
      // real file stream (one file per trigger) through the
      // foreachBatch incremental sketch — add + re-solve at every
      // trigger. De-pinned (r9, q_sketch_binning pattern): fixed USER
      // splits make the solved splits query constants valid at any SF;
      // exact per-bin re-aggregation over the raw table, plus the
      // sketch's own record count proving the stream delivered every
      // row exactly once. The incremental add+re-solve machinery under
      // test is unchanged — only the split SEARCH is forced.
      val e = s.read
        .schema("event_id BIGINT, user_id BIGINT, value DOUBLE")
        .parquet(s"$dir/events.parquet")
        .withColumn("y", (col("user_id") % 2).cast("double"))
      val stage = tmpWorkDir("graft_stream_stage")
      // batch contents are a pure function of the data (the pmod tag —
      // never a sampled range boundary), and stampStageMtimes pins the
      // replay order after the write, so the one-pass stager changes
      // neither composition nor trigger order
      stageBatchesOnePass(e, pmod(col("event_id"), lit(3)), 3, stage,
                          Seq("event_id"))
      stampStageMtimes(stage, 3)
      val ckpt = tmpWorkDir("graft_stream_ckpt")
      val stream = s.readStream
        .schema("event_id BIGINT, user_id BIGINT, value DOUBLE, y DOUBLE")
        .option("maxFilesPerTrigger", 1)
        .option("recursiveFileLookup", "true")
        .parquet(stage)
      val streamSplits = Array(40.0, 80.0, 120.0)
      val sk = new graft.streaming.OptimalBinningSketch(
        BinningConfig(name = "value", userSplits = Some(streamSplits),
          monotonicTrend = None,
          userSplitsFixed = Some(Array.fill(streamSplits.length)(true))),
        eps = 1e-3)
      var last: Option[graft.operators.FittedOptimalBinning] = None
      val q = withConfiguredStateStore(s) {
        sk.streamingQuery(stream, "value", "y",
                          f => last = Some(f))
          .option("checkpointLocation", ckpt)
          .start()
      }
      q.processAllAvailable()
      q.stop()
      // stage + checkpoint are throwaway /tmp artifacts
      deleteRecursively(stage)
      deleteRecursively(ckpt)
      val fitted = last.getOrElse(
        throw new IllegalStateException("stream produced no solve"))
      val sp = fitted.splits
      val nSeen = sk.sketch.n + sk.sketch.countMissingE +
        sk.sketch.countMissingNe + sk.sketch.countSpecialE +
        sk.sketch.countSpecialNe
      e.groupBy(binIdx(col("value"), sp).cast("long").as("bin"))
        .agg(count(lit(1)).as("count"),
             sum(col("y")).cast("long").as("event"))
        .withColumn("splits", lit(sp.mkString(",")))
        .withColumn("n_seen", lit(nSeen))
        .orderBy("bin")
    }),

    "q_stream_topk" -> ((s, dir) => {
      // END-TO-END streaming top-k vocabulary: complete-mode stateful
      // aggregation (groupBy token) over a replayed 3-file stream —
      // the canonical streaming frequency-table shape. State is
      // vocab-sized (the honest bound; at cluster scale swap in a
      // sketch); the final table's top-20 equals the batch vocabulary
      // head exactly, which the oracle recomputes from the raw table.
      val d = T(s, dir, "documents").where(col("text").isNotNull)
        .select("doc_id", "text")
      val stage = tmpWorkDir("graft_topk_stage")
      stageBatchesOnePass(d, pmod(col("doc_id"), lit(3)), 3, stage,
                          Seq("doc_id"))
      stampStageMtimes(stage, 3)
      val staged = s.readStream
        .schema("doc_id BIGINT, text STRING")
        .option("maxFilesPerTrigger", 1)
        .option("recursiveFileLookup", "true")
        .parquet(stage)
      val toks = staged.select(
        explode(filter(split(lower(trim(col("text"))), "\\s+"),
                       t => t =!= "")).as("token"))
      val ckpt = tmpWorkDir("graft_topk_ckpt")
      val oldSp = s.conf.get("spark.sql.shuffle.partitions")
      val q = try {
        s.conf.set("spark.sql.shuffle.partitions", streamStatePartitions)
        withConfiguredStateStore(s) {
          toks.groupBy("token").agg(count(lit(1)).as("term_freq"))
            .writeStream.outputMode("complete")
            .format("memory").queryName("graft_stream_topk")
            .option("checkpointLocation", ckpt)
            .start()
        }
      } finally s.conf.set("spark.sql.shuffle.partitions", oldSp)
      q.processAllAvailable()
      q.stop()
      val out = s.table("graft_stream_topk")
        .orderBy(desc("term_freq"), col("token"))
        .limit(20).collect()
        .map(r => (r.getString(0), r.getLong(1)))
      s.catalog.dropTempView("graft_stream_topk")
      deleteRecursively(stage)
      deleteRecursively(ckpt)
      import s.implicits._
      out.toSeq.toDF("token", "term_freq")
    }),

    "q_stream_hh" -> ((s, dir) => {
      // END-TO-END streaming heavy hitters: the Misra-Gries aggregate
      // ([[graft.functions.FreqAgg]]) lives INSIDE the streaming state
      // store — complete-mode groupBy merges each trigger's partial
      // sketches into per-group state (the mergeable-summaries rule
      // keeps the error bound additive across any merge tree), so
      // state stays O(capacity) per event type no matter how many
      // distinct users stream past. The drained candidates then route
      // a batch exact-verify (the q_heavy_hitters pattern): output is
      // the EXACT >1/150-of-group user set — the sketch never reaches
      // the oracle surface.
      import graft.functions.FreqAgg
      val e = T(s, dir, "events").where(col("user_id").isNotNull)
        .select("event_id", "event_type", "user_id")
      val stage = tmpWorkDir("graft_shh_stage")
      stageBatchesOnePass(e, pmod(col("event_id"), lit(3)), 3, stage,
                          Seq("event_id"))
      stampStageMtimes(stage, 3)
      val staged = s.readStream
        .schema("event_id BIGINT, event_type STRING, user_id BIGINT")
        .option("maxFilesPerTrigger", 1)
        .option("recursiveFileLookup", "true")
        .parquet(stage)
      val ckpt = tmpWorkDir("graft_shh_ckpt")
      val oldSp = s.conf.get("spark.sql.shuffle.partitions")
      val q = try {
        s.conf.set("spark.sql.shuffle.partitions", streamStatePartitions)
        withConfiguredStateStore(s) {
          staged.groupBy("event_type")
            .agg(FreqAgg.freqLongs(col("user_id"), 256).as("cand"),
                 count(lit(1)).as("total"))
            .writeStream.outputMode("complete")
            .format("memory").queryName("graft_stream_hh")
            .option("checkpointLocation", ckpt)
            .start()
        }
      } finally s.conf.set("spark.sql.shuffle.partitions", oldSp)
      q.processAllAvailable()
      q.stop()
      val candRows = s.table("graft_stream_hh")
        .select(col("event_type"), explode(col("cand")).as("c"),
                col("total"))
        .select(col("event_type"), col("c.key").as("user_id"),
                col("total"))
        .collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
      s.catalog.dropTempView("graft_stream_hh")
      deleteRecursively(stage)
      deleteRecursively(ckpt)
      import s.implicits._
      val cand = candRows.toSeq.toDF("event_type", "user_id", "total")
      e.join(broadcast(cand), Seq("event_type", "user_id"))
        .groupBy("event_type", "user_id")
        .agg(count(lit(1)).as("n"), first(col("total")).as("__t"))
        .where(col("n") * 150 > col("__t"))
        .select(col("event_type"), col("user_id"), col("n"),
                col("__t").as("group_total"))
        .orderBy("event_type", "user_id")
    }),

    "q_stream_distinct" -> ((s, dir) => {
      // END-TO-END streaming distinct-cardinality monitor: the KMV
      // k-min sketch ([[graft.operators.Cardinality]]) lives INSIDE
      // the streaming state store — complete-mode groupBy merges each
      // trigger's partial k-min sets into per-group state (k smallest
      // of a union = k smallest of the merged k-min sets, and the
      // buffer's set semantics absorb re-seen keys), so state stays
      // O(k) per event type across any number of triggers. The
      // drained sketch is the SAME sketch the batch query computes —
      // the oracle replays it with a window rank — while the exact
      // truth column comes from one batch pass.
      import graft.functions.TopKAgg
      import graft.operators.Cardinality
      val e = T(s, dir, "events").where(col("user_id").isNotNull)
        .select("event_id", "event_type", "user_id")
      val stage = tmpWorkDir("graft_skmv_stage")
      stageBatchesOnePass(e, pmod(col("event_id"), lit(3)), 3, stage,
                          Seq("event_id"))
      stampStageMtimes(stage, 3)
      val staged = s.readStream
        .schema("event_id BIGINT, event_type STRING, user_id BIGINT")
        .option("maxFilesPerTrigger", 1)
        .option("recursiveFileLookup", "true")
        .parquet(stage)
      val ckpt = tmpWorkDir("graft_skmv_ckpt")
      val oldSp = s.conf.get("spark.sql.shuffle.partitions")
      val q = try {
        s.conf.set("spark.sql.shuffle.partitions", streamStatePartitions)
        withConfiguredStateStore(s) {
          staged
            .groupBy(col("event_type").as("grp"))
            .agg(TopKAgg.topkLongs(
                   negate(Cardinality.hash52(col("user_id"))),
                   col("user_id"), 64).as("sk"))
            .writeStream.outputMode("complete")
            .format("memory").queryName("graft_stream_kmv")
            .option("checkpointLocation", ckpt)
            .start()
        }
      } finally s.conf.set("spark.sql.shuffle.partitions", oldSp)
      q.processAllAvailable()
      q.stop()
      val kthRows = s.table("graft_stream_kmv")
        .select(col("grp"),
                when(size(col("sk")) >= 64,
                     negate(element_at(col("sk"), 64).getField("key")))
                  .as("kth_hash"))
        .collect().map(r => (r.getString(0),
                             if (r.isNullAt(1)) None
                             else Some(r.getLong(1))))
      s.catalog.dropTempView("graft_stream_kmv")
      deleteRecursively(stage)
      deleteRecursively(ckpt)
      import s.implicits._
      val kth = kthRows.toSeq.toDF("grp", "kth_hash")
      e.groupBy(col("event_type").as("grp"))
        .agg(countDistinct(col("user_id")).as("n_exact"))
        .join(broadcast(kth), Seq("grp"))
        .withColumn("est",
          when(col("kth_hash").isNull || col("kth_hash") === 0L,
               col("n_exact"))
            .otherwise(expr("283726776524341248L DIV kth_hash")))
        .orderBy("grp")
    }),

    "q_stream_curation" -> ((s, dir) => {
      // END-TO-END streaming curation monitor: the documents table
      // replays as a 3-file stream (stamped mtimes pin trigger order).
      // Stream 1 runs watermark-bounded streaming exact dedup on the
      // portable rolling fingerprint; stream 2 feeds the PSI drift
      // monitor, binned on token count against the doc_id%3==0
      // training cohort. The watermark delay spans the whole synthetic
      // ts range, so no dedup state evicts and survivors == global
      // distinct fingerprints. Oracle surface is integer-only: per-bin
      // expected/actual counts, survivor count, fp checksum, raw count.
      val splits = Array(32.0, 64.0, 96.0)
      val d = T(s, dir, "documents")
        .where(col("text").isNotNull)
        .withColumn("ts",
                    timestamp_seconds(lit(1700000000L) + col("doc_id")))
        .select("doc_id", "text", "ts")
      val stage = tmpWorkDir("graft_cur_stage")
      stageBatchesOnePass(d, pmod(col("doc_id"), lit(3)), 3, stage,
                          Seq("doc_id"))
      stampStageMtimes(stage, 3)
      def staged = s.readStream
        .schema("doc_id BIGINT, text STRING, ts TIMESTAMP")
        .option("maxFilesPerTrigger", 1)
        .option("recursiveFileLookup", "true")
        .parquet(stage)
      // stream 1: dedup survivors (count + portable-fp checksum);
      // foreachBatch runs on the driver, so plain vars accumulate
      var nSurv = 0L
      var fpSum = 0L
      val ckptD = tmpWorkDir("graft_cur_ckptd")
      // 8 state-store partitions (q_stream_sessions discipline): the
      // dedup state is a few hundred fingerprints — per-batch commit
      // overhead scales with store count, width buys nothing. The conf
      // binds at checkpoint creation, scoped via finally.
      val oldSp = s.conf.get("spark.sql.shuffle.partitions")
      val qD = try {
        s.conf.set("spark.sql.shuffle.partitions", streamStatePartitions)
        withConfiguredStateStore(s) {
        graft.streaming.StreamingCuration
          .exactDedup(staged, "text", "ts", "365 days", portable = true)
          .writeStream.outputMode("append")
          .foreachBatch { (b: DataFrame, _: Long) =>
            val r = b.agg(
              count(lit(1)),
              coalesce(sum(graft.pipeline.TextAnalysis
                             .rollingFingerprint(col("text"))), lit(0L)))
              .collect()(0)
            nSurv += r.getLong(0)
            fpSum += r.getLong(1)
          }
          .option("checkpointLocation", ckptD).start()
        }
      } finally s.conf.set("spark.sql.shuffle.partitions", oldSp)
      // stream 2 — the raw replay through the drift monitor — is
      // INDEPENDENT of stream 1 (separate checkpoint, separate driver
      // accumulator), so it runs CONCURRENTLY (r12 optimization,
      // guide §2.6 "overlap independent jobs"): its triggers
      // back-fill the cores stream 1's trigger tail leaves idle.
      // Each monitor only ever mutates from its own query thread.
      val mon = graft.streaming.StreamingDriftMonitor.fromExpected(
        d.where(col("doc_id") % 3 === 0)
          .select(graft.pipeline.TextAnalysis.tokenCount(col("text"))
                    .cast("double").as("score")),
        "score", splits)
      val ckptM = tmpWorkDir("graft_cur_ckptm")
      val qM = staged
        .select(graft.pipeline.TextAnalysis.tokenCount(col("text"))
                  .cast("double").as("score"))
        .writeStream.outputMode("append")
        .foreachBatch { (b: DataFrame, _: Long) => mon.add(b) }
        .option("checkpointLocation", ckptM).start()
      qD.processAllAvailable(); qD.stop()
      qM.processAllAvailable(); qM.stop()
      deleteRecursively(stage)
      deleteRecursively(ckptD)
      deleteRecursively(ckptM)
      val exp = mon.expectedTotals
      val act = mon.actualCounts
      val nRaw = act.sum.toLong
      import s.implicits._
      (0 to splits.length).map(i =>
        (i, exp(i).toLong, act(i).toLong, nSurv, fpSum, nRaw))
        .toDF("bin", "expected_n", "actual_n", "n_survivors",
              "fp_checksum", "n_raw")
        .orderBy("bin")
    }),

    "q_stream_windows" -> ((s, dir) => {
      // END-TO-END watermarked window aggregation in APPEND mode — the
      // readStream -> withWatermark -> groupBy(window) -> writeStream
      // shape: the events table replays as a TIME-ORDERED 3-file
      // stream (time order keeps the watermark monotone under the
      // staged boundaries, so no event is ever late-dropped and the
      // sink equals the batch aggregate restricted by the final
      // watermark); per-day per-type windows emit exactly when the
      // watermark reaches the window end (emission at equality
      // included — probed and pinned by unit test). Integer-only
      // surface: counts + floor(value*1e6) sums.
      val ev = T(s, dir, "events")
        .select(col("event_type"), col("ts").cast("timestamp").as("ts"),
                col("value"))
      val out = replayThirds(s, ev, "ts",
        "event_type STRING, ts TIMESTAMP, value DOUBLE",
        "graft_stream_windows") { stream =>
        graft.streaming.EventWindows.typeCountsPerWindowQ(
          stream, "ts", "1 day", Some("1 hour"))
      } { t =>
        t.select("window_start", "event_type", "n_events", "value_q_sum")
          .orderBy("window_start", "event_type")
          .collect().toSeq
      }
      import s.implicits._
      out.map(r => (r.getLong(0), r.getString(1), r.getLong(2),
                    r.getLong(3))).toSeq
        .toDF("window_start", "event_type", "n_events", "value_q_sum")
    }),

    "q_stream_join" -> ((s, dir) => {
      // END-TO-END STREAM-STREAM inner join: view events joined to the
      // same user's purchase events within [view_ts, view_ts + 2h],
      // both branches of ONE time-ordered 3-file replayed stream,
      // watermarked 1h so the join state is evictable (the scale
      // contract; inner-join EMISSION needs no watermark, so on this
      // finite in-order replay the sink holds exactly the batch join —
      // the DuckDB oracle replays it as a plain inequality join).
      // Integer-only surface: pair/user counts, id checksum, quantized
      // purchase values, whole-second lag sum.
      val ev = T(s, dir, "events")
        .select(col("user_id"), col("ts").cast("timestamp").as("ts"),
                col("event_type"), col("value"))
      val out = replayThirds(s, ev, "ts",
        "user_id BIGINT, ts TIMESTAMP, event_type STRING, " +
        "value DOUBLE", "graft_stream_join") { stream =>
        val views = stream.where(col("event_type") === "view")
          .select(col("user_id").as("v_user"), col("ts").as("v_ts"))
          .withWatermark("v_ts", "1 hour")
        val buys = stream.where(col("event_type") === "purchase")
          .select(col("user_id").as("p_user"), col("ts").as("p_ts"),
                  col("value").as("p_value"))
          .withWatermark("p_ts", "1 hour")
        views.join(buys,
          col("v_user") === col("p_user") &&
          col("p_ts") >= col("v_ts") &&
          col("p_ts") <= col("v_ts") + expr("INTERVAL 2 HOURS"))
      } { t =>
        t.agg(count(lit(1)).as("n_pairs"),
              countDistinct(col("v_user")).as("n_users"),
              coalesce(sum(col("v_user")), lit(0L)).as("sum_user"),
              coalesce(sum(floor(col("p_value") * lit(1e6)).cast("long")),
                       lit(0L)).as("pval_q_sum"),
              coalesce(sum(col("p_ts").cast("long") -
                           col("v_ts").cast("long")), lit(0L))
                .as("lag_s_sum"))
          .collect().toSeq
      }.head
      import s.implicits._
      Seq((out.getLong(0), out.getLong(1), out.getLong(2),
           out.getLong(3), out.getLong(4)))
        .toDF("n_pairs", "n_users", "sum_user", "pval_q_sum",
              "lag_s_sum")
    }),

    "q_stream_asof" -> ((s, dir) => {
      // STREAMING point-in-time enrichment: one replayed time-ordered
      // stream carries purchases (state) and views (probes); each view
      // emits with the latest purchase at-or-before it (stateful
      // flatMapGroupsWithState, ONE fixed-size record per user). On
      // the in-order replay the result equals DuckDB's native ASOF
      // LEFT JOIN, which is the oracle. Integer-only surface.
      val ev = T(s, dir, "events")
        .select(col("user_id"), col("ts").cast("timestamp").as("ts"),
                col("event_type"), col("value"))
      val out = replayThirds(s, ev, "ts",
        "user_id BIGINT, ts TIMESTAMP, event_type STRING, " +
        "value DOUBLE", "graft_stream_asof") { stream =>
        graft.streaming.StreamingAsof.enrich(
          stream, "user_id", "ts", "event_type", "value",
          stateType = "purchase", probeType = "view",
          watermarkDelay = "1 hour").toDF()
      } { t =>
        t.agg(count(lit(1)).as("n_probes"),
              count(when(col("matched"), 1)).as("n_matched"),
              coalesce(sum(when(col("matched"), col("asof_ms"))),
                       lit(0L)).as("asof_ms_sum"),
              coalesce(sum(when(col("matched"), col("asof_value_q"))),
                       lit(0L)).as("asof_vq_sum"))
          .collect().toSeq
      }.head
      import s.implicits._
      Seq((out.getLong(0), out.getLong(1), out.getLong(2),
           out.getLong(3)))
        .toDF("n_probes", "n_matched", "asof_ms_sum", "asof_vq_sum")
    }),

    "q_cat_sketch" -> ((s, dir) => {
      // mergeable categorical sketch binning: per-half sketches built in
      // ONE grouped scan (partial add per partition + cross-group merge
      // — identical state to sequential split-adds, counter addition is
      // commutative), then solved. De-pinned (r9): PINNED user category
      // GROUPS with fixed boundaries force the solve to identity at ANY
      // SF (`binning.py:781-816` user-splits categorical path) — only
      // the BIN ORDER stays data-dependent (groups rank by pooled event
      // rate), and that ordering is one SQL window over exact integer
      // counts, so the oracle replays grouping + order + counts at
      // every SF. The categorical sketch is EXACT, so the output
      // per-bin counts are the sketch's own aggregate — no second pass.
      val o = T(s, dir, "orders")
        .withColumn("y", when(col("o_orderstatus") === "F", 1.0)
          .otherwise(0.0))
      val cfg = BinningConfig(name = "o_orderpriority",
        dtype = "categorical",
        userSplitsCategorical = Some(Array(
          Array("1-URGENT", "2-HIGH"), Array("3-MEDIUM"),
          Array("4-NOT SPECIFIED", "5-LOW"))),
        monotonicTrend = None,
        userSplitsFixed = Some(Array(true, true)))
      val sk = new graft.streaming.OptimalBinningCatSketch(cfg)
      sk.addGrouped(o, col("o_orderkey") % 2, "o_orderpriority", "y")
      val fitted = sk.solve()
      val cnt = sk.sketch.counts // category -> (n, w0, w1), exact
      import s.implicits._
      fitted.catBins.indices.map { i =>
        val es = fitted.catBins(i)
          .map(c => cnt.getOrElse(c, (0L, 0.0, 0.0)))
        (i.toLong, fitted.catBins(i).sorted.mkString("|"),
         es.map(_._1).sum, es.map(_._3).sum.toLong)
      }.toDF("bin", "cats", "count", "event").orderBy("bin")
    }),

    "q_process_summary" -> ((s, dir) => {
      // multi-variable binning process on PINNED user splits (de-pinned
      // r9, the q_score_deploy discipline): fixed user splits per
      // variable force every solve to identity at ANY SF, so the
      // oracle's split literals are query constants and the strict
      // sf0.1 replay verifies the row. The process machinery under
      // test is unchanged: one melted single-shuffle aggregate across
      // all variables, per-variable tables, selection summary — only
      // the split SEARCH is forced. IV recomputed by the oracle from
      // an exact re-aggregation at the same literals.
      val li = liTarget(T(s, dir, "lineitem"))
      val vars = Seq("l_extendedprice", "l_quantity", "l_discount",
                     "l_tax")
      def fixedCfg(sp: Array[Double]) = BinningConfig(
        userSplits = Some(sp), monotonicTrend = None,
        userSplitsFixed = Some(Array.fill(sp.length)(true)))
      val proc = BinningProcess.fit(li, vars, "y",
        config = BinningConfig(),
        varOverrides = Map(
          "l_extendedprice" -> fixedCfg(liSplits),
          "l_quantity" -> fixedCfg(qtySplits),
          "l_discount" -> fixedCfg(Array(0.025, 0.055, 0.085)),
          "l_tax" -> fixedCfg(Array(0.025, 0.045, 0.065))))
      // output = the fit's OWN solved numbers (no extra data pass)
      import s.implicits._
      vars.map { v =>
        val f = proc.fits(v)
        (v, f.nDataBins.toLong, scale6(f.iv), f.splits.mkString(","))
      }.toDF("variable", "n_bins", "iv", "splits").orderBy("variable")
    }),

    "q_ml_pipeline" -> ((s, dir) => {
      // spark.ml Pipeline composition end-to-end: OptimalBinningEstimator
      // (pinned splits -> generated WoE CASE column, no UDF) ->
      // VectorAssembler -> LogisticRegression, the Spark-native analogue
      // of the reference's sklearn-pipeline usage (binning.py:447).
      // The q_scorecard closed form makes the whole chain oracle-able:
      // a saturated single-variable WoE logistic has MLE coef = -1,
      // intercept = ln(te/tne), so spark.ml's LBFGS (tol 1e-12) lands
      // on the closed form and every prediction replays as the integer
      // threshold test woe > ln(te/tne) <=> predict 0. Output per bin:
      // counts, the transformed WoE (the binning stage's own column),
      // integer prediction/accuracy tallies, and the fitted
      // coef/intercept pinned at 4dp (far above LBFGS noise).
      val li = liTarget(T(s, dir, "lineitem"))
        .withColumn("label", col("y"))
      val binStage = new graft.ml.OptimalBinningEstimator()
        .setInputCol("l_extendedprice").setLabelCol("label")
        .setOutputCol("woe").setMetric("woe")
        .setConfig(BinningConfig(name = "l_extendedprice",
          userSplits = Some(liSplits), monotonicTrend = None,
          minNBins = Some(4), maxNBins = Some(4)))
      val assembler = new org.apache.spark.ml.feature.VectorAssembler()
        .setInputCols(Array("woe")).setOutputCol("features")
      val lr = new org.apache.spark.ml.classification.LogisticRegression()
        .setMaxIter(200).setTol(1e-12).setRegParam(0.0)
      val model = new org.apache.spark.ml.Pipeline()
        .setStages(Array(binStage, assembler, lr)).fit(li)
      val lrm = model.stages(2)
        .asInstanceOf[org.apache.spark.ml.classification
                        .LogisticRegressionModel]
      def r4(v: Double): Double =
        BigDecimal(v).setScale(4, BigDecimal.RoundingMode.HALF_UP)
          .toDouble
      val bin = when(col("l_extendedprice") < liSplits(0), 0L)
        .when(col("l_extendedprice") < liSplits(1), 1L)
        .when(col("l_extendedprice") < liSplits(2), 2L)
        .otherwise(3L)
      model.transform(li)
        .select(bin.as("bin"), col("woe"), col("label"),
                col("prediction"))
        .groupBy("bin")
        .agg(count(lit(1)).as("count"),
             first(col("woe")).as("__w"),
             sum(col("prediction").cast("long")).as("n_pred_event"),
             sum(when(col("prediction") === col("label"), 1L)
                   .otherwise(0L)).as("n_correct"))
        .select(col("bin"), col("count"),
                round(col("__w"), 6).as("woe"),
                col("n_pred_event"), col("n_correct"),
                lit(r4(lrm.coefficients(0))).as("coef"),
                lit(r4(lrm.intercept)).as("intercept"))
        .orderBy("bin")
    }),

    "q_scorecard" -> ((s, dir) => {
      // binary scorecard END-TO-END on one WoE-encoded variable with
      // pinned splits (`scorecard.py:177` fit -> :633-709 points ->
      // :396-421 score). The logistic MLE is closed-form here: the model
      // is saturated and, under the optbinning WoE sign
      // woe = ln((ne/tne)/(e/te)), the per-bin empirical logit is
      // ln(te/tne) - woe — so coef = -1, intercept = ln(te/tne) exactly.
      // The DuckDB oracle therefore recomputes the WHOLE chain
      // binning -> WoE -> estimator -> pdo/odds points -> per-row score
      // with no iterative solver in the loop, turning this into a hard
      // hash check of the scorecard pipeline.
      val li = liTarget(T(s, dir, "lineitem"))
      val sc = Scorecard.fit(li, Seq("l_extendedprice"), "y",
        binningConfig = BinningConfig(name = "l_extendedprice",
          userSplits = Some(liSplits), monotonicTrend = None,
          minNBins = Some(4), maxNBins = Some(4)),
        scaling = Scorecard.ScalingConfig(method = Some("pdo_odds")))
      val score = sc.scoreColumn()
      val st = li.agg(avg(score), min(score), max(score)).collect()(0)
      val nData = sc.process.fits("l_extendedprice").nDataBins
      import s.implicits._
      sc.pointsTable.filter(_.binId < nData).toSeq.map { r =>
        (r.binId.toLong, r.count.toLong, scale6(r.woe),
         BigDecimal(r.points).setScale(4, BigDecimal.RoundingMode.HALF_UP)
           .toDouble,
         scale6(r.coefficient), scale6(sc.estimatorIntercept),
         BigDecimal(st.getDouble(0)).setScale(2,
           BigDecimal.RoundingMode.HALF_UP).toDouble,
         BigDecimal(st.getDouble(1)).setScale(4,
           BigDecimal.RoundingMode.HALF_UP).toDouble,
         BigDecimal(st.getDouble(2)).setScale(4,
           BigDecimal.RoundingMode.HALF_UP).toDouble)
      }.toDF("bin", "count", "woe", "points", "coef", "intercept",
             "avg_score", "min_score", "max_score").orderBy("bin")
    }),

    "q_scorecard_weighted" -> ((s, dir) => {
      // weighted binary scorecard END-TO-END (`scorecard.py:265`
      // sample_weight): weight = l_linenumber, pinned splits. The
      // saturated weighted logistic MLE keeps q_scorecard's closed
      // form with WEIGHTED totals — coef = -1, intercept =
      // ln(sum_w_events/sum_w_nonevents) — so the DuckDB oracle
      // replays weighted binning -> WoE -> points -> weighted mean
      // score with no iterative solver, a hard hash check of the
      // weightCol path through binning AND estimator.
      val li = liTarget(T(s, dir, "lineitem"))
        .withColumn("wgt", col("l_linenumber").cast("double"))
      val sc = Scorecard.fit(li, Seq("l_extendedprice"), "y",
        binningConfig = BinningConfig(name = "l_extendedprice",
          userSplits = Some(liSplits), monotonicTrend = None,
          minNBins = Some(4), maxNBins = Some(4)),
        scaling = Scorecard.ScalingConfig(method = Some("pdo_odds")),
        weightCol = Some("wgt"))
      val score = sc.scoreColumn()
      val st = li.agg(
        (sum(col("wgt") * score) / sum(col("wgt"))).as("a"),
        min(score).as("mn"), max(score).as("mx")).collect()(0)
      val nData = sc.process.fits("l_extendedprice").nDataBins
      import s.implicits._
      sc.pointsTable.filter(_.binId < nData).toSeq.map { r =>
        (r.binId.toLong, r.count.toLong, scale6(r.woe),
         BigDecimal(r.points).setScale(4, BigDecimal.RoundingMode.HALF_UP)
           .toDouble,
         scale6(r.coefficient), scale6(sc.estimatorIntercept),
         BigDecimal(st.getDouble(0)).setScale(2,
           BigDecimal.RoundingMode.HALF_UP).toDouble,
         BigDecimal(st.getDouble(1)).setScale(4,
           BigDecimal.RoundingMode.HALF_UP).toDouble,
         BigDecimal(st.getDouble(2)).setScale(4,
           BigDecimal.RoundingMode.HALF_UP).toDouble)
      }.toDF("bin", "count", "woe", "points", "coef", "intercept",
             "avg_score", "min_score", "max_score").orderBy("bin")
    }),

    "q_2d_agg" -> ((s, dir) => {
      // 2D prebin grid: event/nonevent per (binX, binY) cell
      val li = liTarget(T(s, dir, "lineitem"))
      li.groupBy(binIdx(col("l_extendedprice"), Array(50000.0)).as("bx"),
                 binIdx(col("l_quantity"), Array(25.0)).as("by"))
        .agg(sum(when(col("y") === 0.0, 1L).otherwise(0L)).as("nonevent"),
             sum(when(col("y") === 1.0, 1L).otherwise(0L)).as("event"))
        .orderBy("bx", "by")
    }),

    "q_cont_2d_fit" -> ((s, dir) => {
      // continuous-target 2D rectangle binning, verified as a hard
      // invariant: solved splits + rectangle layout pinned as strings,
      // per-rect count/mean recomputed by the oracle from the same
      // literals
      val li = T(s, dir, "lineitem")
      val f = OptimalBinning2D.fitContinuous(li, "l_quantity", "l_discount",
        "l_extendedprice",
        OptimalBinning2D.Config2D(maxNPrebinsX = 4, maxNPrebinsY = 4))
      import s.implicits._
      f.rects.toSeq.sortBy(r => (r.x1, r.y1)).map(r =>
        (s"${r.x1}-${r.x2}:${r.y1}-${r.y2}", r.n.toLong, scale6(r.mean)))
        .toDF("rect", "count", "mean")
        .withColumn("splits_x", lit(f.splitsX.mkString(",")))
        .withColumn("splits_y", lit(f.splitsY.mkString(",")))
        .orderBy("rect")
    }),

    "q_cont_pw" -> ((s, dir) => {
      // continuous-target piecewise-linear curve at PINNED user knots,
      // DE-PINNED (r10): ExactFit solves the l2 normal equations from
      // ONE exact DECIMAL(38,0) moment aggregate (the 100 TB path — no
      // histogram, no raw-data collect) and the oracle re-derives the
      // SAME bit-identical coefficients from data via the shared
      // expression IR; every output is a moment closed form or an
      // exact knot value, so the oracle replays at ANY SF with zero
      // float-summation noise
      val li = T(s, dir, "lineitem")
      val f = graft.core.ExactFit.fit(
        li, col("l_quantity"), col("l_extendedprice"), pwContSpec)
      li.where(col("l_quantity").isNotNull &&
               col("l_extendedprice").isNotNull)
        .agg(count(lit(1)).as("n"))
        .withColumn("avg_pred", round(lit(f.values("w_avg")), 4))
        .withColumn("avg_actual", round(lit(f.values("w_avgy")), 4))
        .withColumn("v1", round(lit(f.knotValue(1)), 4))
        .withColumn("v2", round(lit(f.knotValue(2)), 4))
        .withColumn("slope0", round(lit(f.slope(0) * 10.0 / 100.0), 6))
        .withColumn("slope1", round(lit(f.slope(1) * 10.0 / 100.0), 6))
        .withColumn("slope2", round(lit(f.slope(2) * 10.0 / 100.0), 6))
    }),

    "q_pw_weighted" -> ((s, dir) => {
      // sample-WEIGHTED monotone piecewise fit — the binning family's
      // sample_weight surface on the ExactFit scale path: the same
      // pinned-knot ascending QP as q_pw_monotone, with every row
      // counted priority-many times (urgent 3x, high 2x). Integer
      // weights keep all moments exact DECIMAL sums, so the weighted
      // active-set winner and coefficients replay bit-identically in
      // SQL at any SF. The weight rides in on a broadcast-at-this-SF
      // / co-partitioned-at-scale orderkey join.
      val li = T(s, dir, "lineitem")
      val w = when(col("o_orderpriority") === "1-URGENT", 3L)
        .when(col("o_orderpriority") === "2-HIGH", 2L)
        .otherwise(1L)
      val j = li.join(T(s, dir, "orders")
                        .select(col("o_orderkey"), w.as("w")),
                      col("l_orderkey") === col("o_orderkey"))
      val f = graft.core.ExactFit.fitWeighted(
        j, col("l_quantity"), col("l_extendedprice"), col("w"),
        pwMonoSpec)
      import s.implicits._
      Seq(f.values("n").toLong).toDF("w_total")
        .withColumn("active_mask", lit(f.mask.toLong))
        .withColumn("avg_pred", round(lit(f.values("w_avg")), 4))
        .withColumn("avg_actual", round(lit(f.values("w_avgy")), 4))
        .withColumn("v1", round(lit(f.knotValue(1)), 4))
        .withColumn("v2", round(lit(f.knotValue(2)), 4))
        .withColumn("slope0", round(lit(f.slope(0) * 10.0 / 100.0), 6))
        .withColumn("slope1", round(lit(f.slope(1) * 10.0 / 100.0), 6))
        .withColumn("slope2", round(lit(f.slope(2) * 10.0 / 100.0), 6))
    }),

    "q_gamma_outlier_fit" -> ((s, dir) => {
      // gamma-regularized fit with pre-fit outlier filtering. De-pinned
      // (r9): the detector's med/MAD are the EXACT lower weighted
      // medians of the GRID-SNAPPED value histogram (the engine's own
      // histogramMaxBuckets discipline — one min/max pass + two
      // 10k-bucket aggregates, never a column-buffering exact
      // percentile, so the stat is scale-safe AND the oracle re-derives
      // it in SQL at any SF: snap arithmetic, cumulative counts, and
      // the 2*cum >= n median rule are all deterministic). The gamma
      // solve's one-bin collapse is an invariant of the size-uniformity
      // penalty on this target, not an sf0.01 literal: gamma = 2.0
      // dominates the IV spread at every SF, so splits = '' replays.
      // Per-bin counts re-aggregate exactly over the FILTERED rows.
      val li = liTarget(T(s, dir, "lineitem"))
      val x = col("l_extendedprice")
      val mm = li.agg(min(x).cast("double"), max(x).cast("double")).head
      def snapOf(c: org.apache.spark.sql.Column) =
        Histograms.gridSnap(c, mm.getDouble(0), mm.getDouble(1), 10000)
      // lower weighted median over a bounded histogram: smallest
      // snapped value whose cumulative count reaches half the rows
      def histMedian(c: org.apache.spark.sql.Column): Double = {
        val h = li.groupBy(c.as("v")).agg(count(lit(1)).as("n"))
          .orderBy("v").collect()
        val total = h.map(_.getLong(1)).sum
        var cum = 0L
        h.find { r => cum += r.getLong(1); 2 * cum >= total }
          .get.getDouble(0)
      }
      val med = histMedian(snapOf(x))
      val mad = histMedian(abs(snapOf(x) - lit(med)))
      val fitted = OptimalBinning.fit(li, "l_extendedprice", "y",
        BinningConfig(name = "x", gamma = 2.0,
                      outlierDetector = Some("zscore"),
                      // already-derived stats pass through so the fit
                      // does not repeat the two percentile jobs
                      outlierParams = Map("approx" -> true,
                                          "med" -> med, "mad" -> mad)))
      val sp = fitted.splits
      li.where(!(abs(lit(0.6745) * (x - lit(med)) / lit(mad)) > 3.5))
        .groupBy(binIdx(x, sp).cast("long").as("bin"))
        .agg(count(lit(1)).as("count"),
             sum(col("y")).cast("long").as("event"))
        .withColumn("med", lit(med))
        .withColumn("mad", lit(mad))
        .withColumn("splits", lit(sp.mkString(",")))
        .orderBy("bin")
    }),

    "q_2d_fit" -> ((s, dir) => {
      // full 2D optimal binning (exact rectangle tiling), verified as a
      // hard invariant: solved splits + rectangle layout pinned as
      // strings, per-rect count/event/WoE recomputed by the oracle from
      // the same literals
      val li = liTarget(T(s, dir, "lineitem"))
      val f = OptimalBinning2D.fit(li, "l_extendedprice",
                                   "l_quantity", "y")
      import s.implicits._
      f.rects.toSeq.sortBy(r => (r.x1, r.y1)).map(r =>
        (s"${r.x1}-${r.x2}:${r.y1}-${r.y2}",
         (r.event + r.nonevent).toLong, r.event.toLong,
         scale6(f.woe(r))))
        .toDF("rect", "count", "event", "woe")
        .withColumn("splits_x", lit(f.splitsX.mkString(",")))
        .withColumn("splits_y", lit(f.splitsY.mkString(",")))
        .orderBy("rect")
    }),

    "q_2d_deploy" -> ((s, dir) => {
      // pinned-MODEL deployment twin for the 2D family (the
      // q_score_deploy discipline): the rectangle LAYOUT is the
      // deployed model — a constant 6-rect tiling of the 4x4
      // (price, qty) grid, shipped as a broadcast model TABLE the
      // way a solved layout ships to production — and every
      // per-rectangle statistic (count / event / nonevent / WoE /
      // IV term, `binning_2d.py:813-945` semantics) is re-derived
      // from RAW rows. No solver literals: oracle-exact at ANY SF,
      // giving the sf-pinned 2D family its scale-verified row.
      // Plan: rows pre-aggregate to <= 16 grid cells BEFORE the
      // layout join, so the rect join touches 16 rows, not the scan.
      val li = liTarget(T(s, dir, "lineitem"))
      val cells = li.groupBy(grid2dXb.as("xb"), grid2dYb.as("yb"))
        .agg(count(lit(1)).as("cn"),
             sum(col("y").cast("long")).as("cev"))
      rects2dDeploy(s, cells)
    }),

    "q_stream_2d" -> ((s, dir) => {
      // the 2D deployment twin maintained INCREMENTALLY: grid cells
      // are an additive monoid (exact LONG count/event per (xb, yb)),
      // so lineitem replays as a 3-trigger file stream and
      // foreachBatch folds each batch's <= 16-cell aggregate into a
      // driver map — bounded by the GRID, never data. The final
      // per-rectangle stats run the identical deployment pipeline on
      // the accumulated cells. Stream == batch by construction:
      // the oracle is q_2d_deploy's verbatim.
      // NO null pre-filter: the deployed grid's CASE chains route a
      // NULL price/qty to the open top bin and a NULL returnflag to
      // y=0 — identical in the batch twin (q_2d_deploy) and the
      // shared deploy2dOracle, so on null-bearing data stream ==
      // batch == oracle (a pre-stage isNotNull here would silently
      // diverge the twins; current testdata has no nulls but the
      // contract must not depend on that).
      val li = T(s, dir, "lineitem")
        .select("l_orderkey", "l_linenumber", "l_extendedprice",
                "l_quantity", "l_returnflag")
      val stage = tmpWorkDir("graft_2d_stage")
      stageBatchesOnePass(li, pmod(col("l_orderkey"), lit(3)), 3,
                          stage, Seq("l_orderkey", "l_linenumber"))
      stampStageMtimes(stage, 3)
      val staged = s.readStream
        .schema("l_orderkey BIGINT, l_linenumber INT, " +
                "l_extendedprice DOUBLE, l_quantity DOUBLE, " +
                "l_returnflag STRING")
        .option("maxFilesPerTrigger", 1)
        .option("recursiveFileLookup", "true")
        .parquet(stage)
      val acc = scala.collection.mutable
        .Map.empty[(Int, Int), (Long, Long)]
      val ckpt = tmpWorkDir("graft_2d_ckpt")
      try {
        val q = staged.writeStream.outputMode("append")
          .foreachBatch { (batch: DataFrame, _: Long) =>
            liTarget(batch)
              .groupBy(grid2dXb.as("xb"), grid2dYb.as("yb"))
              .agg(count(lit(1)).as("cn"),
                   sum(col("y").cast("long")).as("cev"))
              .collect().foreach { r =>
                val k0 = (r.getInt(0), r.getInt(1))
                val (n0, e0) = acc.getOrElse(k0, (0L, 0L))
                acc(k0) = (n0 + r.getLong(2), e0 + r.getLong(3))
              }
            ()
          }
          .option("checkpointLocation", ckpt).start()
        try { q.processAllAvailable() } finally q.stop()
      } finally {
        deleteRecursively(stage); deleteRecursively(ckpt)
      }
      import s.implicits._
      val cells = acc.toSeq
        .map { case ((x, y), (n, e)) => (x, y, n, e) }
        .toDF("xb", "yb", "cn", "cev")
      rects2dDeploy(s, cells)
    }),

    "q_stability_cont" -> ((s, dir) => {
      // continuous-target scorecard monitoring (`monitoring.py:456,
      // 531-575` regression branch): score bins fit on the expected
      // cohort, per-bin PSI, per-bin target means. De-pinned (r9): the
      // variable bins on PINNED user splits (bin means the oracle
      // re-derives as plain AVGs — the single-variable continuous
      // scorecard is saturated, so score = bin mean, closed-form at
      // any SF) and the score bins use psi_method="uniform", whose
      // splits lo + (hi-lo)*i/n over the expected cohort's score
      // min/max replay in SQL — no solver literals anywhere, the
      // strict sf0.1 gate verifies the full
      // score -> bins -> PSI/means chain. Means pinned at 4dp
      // (5e4-magnitude averages, the q_scorecard_cont lesson).
      val li = T(s, dir, "lineitem")
      val sc = Scorecard.fitContinuousTarget(li, Seq("l_quantity"),
        "l_extendedprice",
        BinningConfig(name = "l_quantity",
                      userSplits = Some(qtySplits),
                      monotonicTrend = None))
      val expected = li.where(col("l_orderkey") % 2 === 0)
      val actual = li.where(col("l_orderkey") % 2 === 1)
      val mon = new ContinuousScorecardMonitoring(sc, psiNBins = 10,
                                                  psiMethod = "uniform")
      // performance pass skipped: the query surfaces PSI/means only,
      // and the regression-metric medians would collect error columns
      val st = mon.stabilityStats(expected, actual, "l_extendedprice",
                                  withPerformance = false)
      import s.implicits._
      def s4(v: Double): Double =
        BigDecimal(v).setScale(4, BigDecimal.RoundingMode.HALF_UP)
          .toDouble
      st.psiBins.toSeq.sortBy(_._1).map { case (b, ce, ca, psi) =>
        val t = st.tests.find(_._1 == b).get
        (b.toLong, ce.toLong, ca.toLong, scale6(psi), s4(t._2),
         s4(t._3))
      }.toDF("bin", "count_e", "count_a", "psi", "ymean_e", "ymean_a")
        .orderBy("bin")
    }),

    "q_stability_report" -> ((s, dir) => {
      // scorecard monitoring system report (`monitoring.py:166`): PSI on
      // score bins + per-bin significance + cohort performance.
      // De-pinned (r9, the q_score_deploy closed-form discipline): a
      // SINGLE variable on pinned user splits makes the IRLS scorecard
      // saturated — its MLE is coef = -1, intercept = ln(te/tne), both
      // re-derivable from data at any SF — and psi_method="uniform"
      // makes the score-bin splits lo + (hi-lo)*i/n of the expected
      // cohort's score min/max, also SQL-computable. The oracle replays
      // score -> bins -> PSI/z-tests/Gini end-to-end with ZERO solver
      // literals, so the strict sf0.1 gate verifies the whole chain.
      // (Scores sit >= 1e-2 from every uniform boundary while IRLS
      // noise is < 1e-9, so bin membership cannot flip cross-engine.)
      val li = liTarget(T(s, dir, "lineitem"))
      val sc = Scorecard.fit(li, Seq("l_extendedprice"), "y",
        varOverrides = scOverrides)
      val expected = li.where(col("l_orderkey") % 2 === 0)
      val actual = li.where(col("l_orderkey") % 2 === 1)
      val mon = new ScorecardMonitoring(sc, psiNBins = 10,
        psiMethod = "uniform", psiYCol = Some("y"))
      // one fused aggregate job for psi + tests + gini/ks
      val st = mon.stabilityStats(expected, actual, "y")
      import s.implicits._
      Seq((scale6(st.psiTotal), Monitoring.psiVerdict(st.psiTotal),
           st.tests.length.toLong,
           st.tests.count(t => t._5 < 0.05).toLong,
           scale6(st.performance("gini_expected")),
           scale6(st.performance("gini_actual"))))
        .toDF("psi", "verdict", "n_bins", "n_significant",
              "gini_expected", "gini_actual")
    }),

    "q_2d_cart" -> ((s, dir) => {
      // 2D binning, CART strategy (greedy recursive axis-parallel
      // splitting, leaves = bins), verified like q_2d_fit: pinned
      // splits + leaf layout, per-leaf stats recomputed by the oracle
      val li = liTarget(T(s, dir, "lineitem"))
      val f = OptimalBinning2D.fit(li, "l_extendedprice",
        "l_quantity", "y", OptimalBinning2D.Config2D(strategy = "cart"))
      import s.implicits._
      f.rects.toSeq.sortBy(r => (r.x1, r.y1)).map(r =>
        (s"${r.x1}-${r.x2}:${r.y1}-${r.y2}",
         (r.event + r.nonevent).toLong, r.event.toLong,
         scale6(f.woe(r))))
        .toDF("rect", "count", "event", "woe")
        .withColumn("splits_x", lit(f.splitsX.mkString(",")))
        .withColumn("splits_y", lit(f.splitsY.mkString(",")))
        .orderBy("rect")
    }),

    "q_scenario_fit" -> ((s, dir) => {
      // scenario-based stochastic binning on PINNED user splits
      // (de-pinned r9): fixed user splits force the scenario solve to
      // identity at ANY SF — the weighted cross-scenario aggregation
      // machinery under test is unchanged, only the split SEARCH is
      // forced — so the oracle's split literals are query constants
      // and exact per-(bin, scenario) counts replay at every SF
      val li = liTarget(T(s, dir, "lineitem"))
      val s1 = li.where(col("l_linenumber") <= 3)
      val s2 = li.where(col("l_linenumber") > 3)
      val fitted = SBOptimalBinning.fit(Seq((s1, 0.6), (s2, 0.4)),
        "l_extendedprice", "y",
        BinningConfig(name = "x", userSplits = Some(liSplits),
          monotonicTrend = None,
          userSplitsFixed = Some(Array.fill(liSplits.length)(true))))
      val sp = fitted.splits
      val sc1 = col("l_linenumber") <= 3
      li.groupBy(binIdx(col("l_extendedprice"), sp).cast("long")
          .as("bin"))
        .agg(sum(when(sc1, 1L).otherwise(0L)).as("n1"),
             sum(when(sc1, col("y")).otherwise(0.0)).cast("long")
               .as("e1"),
             sum(when(!sc1, 1L).otherwise(0L)).as("n2"),
             sum(when(!sc1, col("y")).otherwise(0.0)).cast("long")
               .as("e2"))
        .withColumn("splits", lit(sp.mkString(",")))
        .orderBy("bin")
    }),

    "q_pw_transform" -> ((s, dir) => {
      // piecewise event-rate curve at PINNED knots (liSplits),
      // DE-PINNED (r10): the l2 fit of the 0/1 target derives from
      // exact moments in BOTH engines (see q_cont_pw); min/max of the
      // [1e-6, 0.999999]-clipped prediction are row-level min/max of
      // bit-identical doubles (order-independent, exact), avg_pred is
      // the unclipped curve mean in moment closed form (the clip
      // never binds on a curve inside (0, 1); min/max carry the clip)
      val li = liTarget(T(s, dir, "lineitem"))
      val f = graft.core.ExactFit.fit(
        li, col("l_extendedprice"), col("y"), pwRateSpec)
      val pred = least(greatest(
        f.predictColumn(col("l_extendedprice")), lit(1.0E-6)),
        lit(0.999999))
      li.where(col("l_extendedprice").isNotNull)
        .agg(count(lit(1)).as("n"),
             round(min(pred), 6).as("min_pred"),
             round(max(pred), 6).as("max_pred"))
        .withColumn("avg_pred", round(lit(f.values("w_avg")), 6))
        .withColumn("c0", round(lit(f.a), 6))
        .withColumn("v1", round(lit(f.knotValue(1)), 6))
        .withColumn("v2", round(lit(f.knotValue(2)), 6))
        .withColumn("v3", round(lit(f.knotValue(3)), 6))
    }),

    "q_pw_monotone" -> ((s, dir) => {
      // monotone-ascending piecewise-linear l2 QP at PINNED knots,
      // DE-PINNED (r10): ExactFit enumerates the 2^3 equality active
      // sets on the exact moments and the winner selection (min SSE
      // among feasible, ties -> lowest mask) REPLAYS in SQL as
      // comparisons over the same bit-identical doubles — no discrete
      // pin; the chosen active set is itself oracle-derived at any SF.
      // The grid predictions and slope readouts are exact expressions
      // of the winning coefficients.
      val li = T(s, dir, "lineitem")
      val f = graft.core.ExactFit.fit(
        li, col("l_quantity"), col("l_extendedprice"), pwMonoSpec)
      import s.implicits._
      (5 to 45 by 5).map(_.toDouble).toDF("x")
        .select(col("x"), round(f.predictColumn(col("x")), 6).as("pred"))
        .withColumn("active_mask", lit(f.mask.toLong))
        .withColumn("slope0", round(lit(f.slope(0) * 10.0 / 100.0), 6))
        .withColumn("slope1", round(lit(f.slope(1) * 10.0 / 100.0), 6))
        .withColumn("slope2", round(lit(f.slope(2) * 10.0 / 100.0), 6))
        .orderBy("x")
    }),

    "q_counterfactual" -> ((s, dir) => {
      // counterfactual search over a fitted scorecard, verified as a
      // hard invariant: the scorecard bins on PINNED user splits (exact
      // WoEs the oracle re-derives from the data), the solved
      // coefficients/intercept and the found counterfactual's bins are
      // pinned, and the oracle recomputes the counterfactual's
      // probability from data-derived WoEs + those literals
      val li = liTarget(T(s, dir, "lineitem"))
      val sc = Scorecard.fit(li, Seq("l_extendedprice", "l_quantity"),
        "y", varOverrides = scOverrides)
      val bins = sc.selected.map(v => v -> 0).toMap
      // data-adaptive target: halfway between the instance's probability
      // and the best achievable one, so a counterfactual exists at any SF
      val contrib = sc.selected.zipWithIndex.map { case (v, i) =>
        val woe = sc.process.fits(v).table.woe
          .take(sc.process.fits(v).nDataBins)
        (woe(bins(v)) * sc.coefficients(i),
         woe.map(_ * sc.coefficients(i)).max)
      }
      val baseLin = contrib.map(_._1).sum + sc.estimatorIntercept
      val maxLin = contrib.map(_._2).sum + sc.estimatorIntercept
      def proba(l: Double) = 1.0 / (1.0 + math.exp(-l))
      val target = (proba(baseLin) + proba(maxLin)) / 2.0
      val cfs = Counterfactual.generate(sc, bins, target, outcomeGe = true,
                                        maxChanges = 2,
                                        nCounterfactuals = 1)
      import s.implicits._
      // coefficients/intercept/target pinned at 8 significant digits
      // (pinVec): partitioning-order float noise cannot flip the pins,
      // and the rounded literals shift the replayed probability by
      // ~1e-9 — far inside the 6-decimal output rounding
      val pc = pinVec(sc.coefficients :+ sc.estimatorIntercept)
      cfs.map { cf =>
        val finalBins = sc.selected.toSeq
          .map(v => cf.changes.getOrElse(v, bins(v)))
        (cf.nChanges.toLong, scale6(cf.probability),
         finalBins.mkString(","), pc.init.mkString(","),
         pc.last.toString, pinVec(Array(target)).head.toString)
      }.toDF("n_changes", "probability", "cf_bins", "coefs",
             "intercept", "target")
    }),

    "q_cf_verify" -> ((s, dir) => {
      // counterfactual DEPLOYMENT verification (the q_score_deploy
      // discipline applied to q_counterfactual's solve): the
      // scorecard (pinned user splits + the gate-solved coefficients/
      // intercept), the found counterfactual (bins 3,0 vs base 0,0)
      // and its target are DEPLOYED CONSTANTS; the verification —
      // WoEs re-derived from raw data, the cf's probability, its
      // margin over the target and the crosses/changed-count/bin-
      // distance readouts — replays in SQL at ANY SF (+,-,*,/ plus
      // one guarded ln/exp pair, outputs rounded 6dp with ~1e-3
      // margins). At the gate SF the cf crosses its target; at other
      // SFs the row measures whether the deployed artifact STILL
      // crosses on that data — the production drift question.
      val li = liTarget(T(s, dir, "lineitem"))
      val bep = when(col("l_extendedprice") < liSplits(0), 0)
        .when(col("l_extendedprice") < liSplits(1), 1)
        .when(col("l_extendedprice") < liSplits(2), 2).otherwise(3)
      val bq = when(col("l_quantity") < qtySplits(0), 0)
        .when(col("l_quantity") < qtySplits(1), 1)
        .when(col("l_quantity") < qtySplits(2), 2).otherwise(3)
      // ONE distributed aggregate (<= 16 grid cells, the bounded
      // driver-solve boundary) + constant driver arithmetic — a
      // tot/wep/wq branch structure would re-derive the scan subtree
      // three times (three 100-TB scans); from exact cell LONGs,
      // every derived double is order-free and engine-identical
      val cells = li.groupBy(bep.as("bep"), bq.as("bq"))
        .agg(count(lit(1)).as("n"),
             sum(col("y").cast("long")).as("ev")).collect()
      val te = cells.map(_.getLong(3)).sum.toDouble
      val tne = (cells.map(_.getLong(2)).sum -
                 cells.map(_.getLong(3)).sum).toDouble
      def woe(sel: org.apache.spark.sql.Row => Boolean): Double = {
        val n = cells.filter(sel).map(_.getLong(2)).sum
        val ev = cells.filter(sel).map(_.getLong(3)).sum
        math.log((((n - ev).toDouble) / tne) / (ev.toDouble / te))
      }
      val wEp3 = woe(_.getInt(0) == 3); val wEp0 = woe(_.getInt(0) == 0)
      val wQ0 = woe(_.getInt(1) == 0)
      val (cP, cQ, icept, target) =
        (-0.99899178, -0.99585545, -0.68969916, 0.33759203)
      def proba(wEp: Double) =
        1.0 / (1.0 + math.exp(-(cP * wEp + cQ * wQ0 + icept)))
      val (pCf, pBase) = (proba(wEp3), proba(wEp0))
      import s.implicits._
      Seq(("0,0", "3,0", 1L, 3L)).toDF(
          "base_bins", "cf_bins", "n_changes", "dist_bins")
        .withColumn("woe_cf_price6", round(lit(wEp3), 6))
        .withColumn("woe_cf_qty6", round(lit(wQ0), 6))
        .withColumn("proba_base6", round(lit(pBase), 6))
        .withColumn("proba_cf6", round(lit(pCf), 6))
        .withColumn("delta_proba6", round(lit(pCf - pBase), 6))
        .withColumn("margin6", round(lit(pCf - target), 6))
        .withColumn("crosses_target",
                    lit(if (pCf >= target) 1L else 0L))
    }),

    "q_cont_process" -> ((s, dir) => {
      // continuous-target multi-variable process on PINNED user splits
      // (the q_score_deploy closed-form discipline, de-pinned in r9):
      // fixed user splits force the solve to identity at ANY SF, so the
      // oracle's split literals are constants, not sf0.01 solver output
      // — the strict sf0.1 replay verifies this row too. Per-bin
      // (count, mean) re-aggregated in one melted job from the fits'
      // own splits (identical to the pinned arrays by construction).
      val li = T(s, dir, "lineitem")
      val vars = Seq("l_quantity", "l_discount")
      val fits = BinningProcess.fitContinuous(
        li, vars, "l_extendedprice", BinningConfig(),
        varOverrides = Map(
          "l_quantity" -> BinningConfig(
            userSplits = Some(qtySplits), monotonicTrend = None,
            userSplitsFixed = Some(Array.fill(qtySplits.length)(true))),
          "l_discount" -> BinningConfig(
            userSplits = Some(Array(0.025, 0.055, 0.085)),
            monotonicTrend = None,
            userSplitsFixed = Some(Array.fill(3)(true)))))
      val spByVar = vars.map(v => v -> fits(v).splits).toMap
      val stackExpr = s"stack(${vars.length}, " +
        vars.map(v => s"'$v', cast(`$v` as double)").mkString(", ") +
        ") as (var, x)"
      val melted = li.withColumn("__t", col("l_extendedprice"))
        .selectExpr("__t as t", stackExpr)
      val binCol = vars.tail.foldLeft(
        when(col("var") === vars.head,
             binIdx(col("x"), spByVar(vars.head)))) { (acc, v) =>
        acc.when(col("var") === v, binIdx(col("x"), spByVar(v)))
      }
      melted.groupBy(col("var").as("variable"),
                     binCol.cast("long").as("bin"))
        .agg(count(lit(1)).as("count"),
             // 4 decimals: 5e4-magnitude means put the 6th decimal
             // inside cross-engine averaging noise
             round(avg(col("t")), 4).as("mean"))
        .withColumn("splits",
          when(col("variable") === vars.head,
               lit(spByVar(vars.head).mkString(",")))
            .otherwise(lit(spByVar(vars(1)).mkString(","))))
        .orderBy("variable", "bin")
    }),

    "q_ann_topk" -> ((s, dir) => {
      // bucketed ANN: corpus vs a 20-query sample through hyperplane LSH
      // (portable planes — DuckDB oracle; the rank-5/6 cosine gap is
      // >= 4.6e-3 at every SF, so the top-k cut cannot flip between
      // engines)
      val e = T(s, dir, "embeddings")
      val queries = e.where(col("vec_id") < 20)
        .select(col("vec_id").as("qid"), col("embedding"))
      val res = Similarity.annTopK(e, queries, "embedding", "vec_id",
                                   "qid", k = 5, nPlanes = 8,
                                   portable = true)
      res.agg(count(lit(1)).as("n_results"),
              countDistinct(col("qid")).as("n_queries"),
              sum(round(col("cosine") * 1e6).cast("long"))
                .as("sum_cosine_micro"))
    }),

    "q_ivf_topk" -> ((s, dir) => {
      // IVF ANN with the portable deterministic quantizer (Lehmer-mix
      // centroids): cell assignment, nProbe probing, and exact-cosine
      // ranking are all integer/float arithmetic DuckDB replays
      // bit-exactly — hard oracle for the whole IVF plan shape
      val e = T(s, dir, "embeddings")
      val queries = e.where(col("vec_id") < 20)
        .select(col("vec_id").as("qid"), col("embedding"))
      val res = Similarity.ivfTopKPortable(e, queries, "embedding",
                                           "vec_id", "qid", k = 5,
                                           dim = 64, nLists = 16,
                                           nProbe = 4)
      res.agg(count(lit(1)).as("n_results"),
              countDistinct(col("qid")).as("n_queries"),
              sum(round(col("cosine") * 1e6).cast("long"))
                .as("sum_cosine_micro"))
    }),

    "q_pq_topk" -> ((s, dir) => {
      // product-quantization ANN with portable deterministic codebooks:
      // distributed per-subspace encode (argmin over codewords) + ADC
      // table-lookup scan — corpus vectors become m=4 small codes and
      // the scan scores via m lookups. All integer/float arithmetic
      // DuckDB replays bit-exactly — hard oracle for the whole
      // encode + ADC plan shape
      val e = T(s, dir, "embeddings")
      val queries = e.where(col("vec_id") < 20)
        .select(col("vec_id").as("qid"), col("embedding"))
      val res = Similarity.pqTopKPortable(e, queries, "embedding",
                                          "vec_id", "qid", k = 5,
                                          dim = 64, m = 4, ksub = 16)
      res.agg(count(lit(1)).as("n_results"),
              countDistinct(col("qid")).as("n_queries"),
              sum(round(col("cosine_pq") * 1e6).cast("long"))
                .as("sum_cosine_pq_micro"))
    }),

    "q_ann_refined" -> ((s, dir) => {
      // compressed-scan + exact re-rank, the production ANN closer:
      // ADC top-20 candidate pool per query, exact cosine on the raw
      // vectors of the pool only, final top-5. Ranks on the 6-digit
      // rounded score so both engines break ulp ties identically;
      // full result rows are the oracle surface
      val e = T(s, dir, "embeddings")
      val queries = e.where(col("vec_id") < 20)
        .select(col("vec_id").as("qid"), col("embedding"))
      Similarity.pqTopKRefinedPortable(e, queries, "embedding",
          "vec_id", "qid", k = 5, dim = 64, refineFactor = 4,
          m = 4, ksub = 16, scoreDigits = Some(6))
        .orderBy("qid", "rank")
    }),

    "q_ivfpq_topk" -> ((s, dir) => {
      // IVF-PQ: coarse cells bound the scanned fraction, ADC codes
      // bound per-vector memory — the standard big-corpus ANN shape,
      // with portable centroids AND codebooks so DuckDB replays
      // assign + encode + probe + score bit-exactly
      val e = T(s, dir, "embeddings")
      val queries = e.where(col("vec_id") < 20)
        .select(col("vec_id").as("qid"), col("embedding"))
      val res = Similarity.ivfPqTopKPortable(e, queries, "embedding",
                                             "vec_id", "qid", k = 5,
                                             dim = 64, nLists = 16,
                                             nProbe = 4, m = 4,
                                             ksub = 16)
      res.agg(count(lit(1)).as("n_results"),
              countDistinct(col("qid")).as("n_queries"),
              sum(round(col("cosine_pq") * 1e6).cast("long"))
                .as("sum_cosine_pq_micro"))
    }),

    "q_semantic_dedup" -> ((s, dir) => {
      // SemDeDup-style semantic dedup: IVF cells bound candidates, the
      // in-cell cosine threshold marks lower-id-keeps-wins duplicates.
      // Portable quantizer so assignment + pairing + threshold replay
      // bit-exactly in DuckDB
      val e = T(s, dir, "embeddings")
      val flags = Similarity.semanticDedupPortable(e, "embedding",
          "vec_id", dim = 64, threshold = 0.3, nLists = 16)
      flags.agg(count(lit(1)).as("n_docs"),
                sum(when(col("is_dup"), 1L).otherwise(0L)).as("n_dups"),
                sum(when(!col("is_dup"), 1L).otherwise(0L))
                  .as("n_survivors"),
                countDistinct(col("cell")).as("n_cells"))
    }),

    "q_embed_clusters" -> ((s, dir) => {
      // distributed Lloyd k-means (2 rounds from the portable seed):
      // topic-style clustering of the embedding corpus. The entire fit
      // is integer arithmetic — quantized BIGINT components, exact
      // integer assignment distances, BIGINT sums, integer
      // floor-division updates — so the fit + final assignment replays
      // bit-exactly in SQL on any engine; the integer member checksum
      // proves the exact cluster contents, not just the sizes
      val e = T(s, dir, "embeddings")
      val cl = Similarity.kmeansPortable(e, "embedding", dim = 64,
                                         k = 8, iters = 2)
      cl.groupBy("cluster")
        .agg(count(lit(1)).as("n"),
             min("vec_id").as("min_id"), max("vec_id").as("max_id"),
             sum(aggregate(
               transform(col("embedding").cast("array<double>"),
                         x => floor(x * lit(1e6)).cast("long")),
               lit(0L), (a, x) => a + x)).as("checksum"))
        .orderBy("cluster")
    }),

    "q_embed_outliers" -> ((s, dir) => {
      // per-cluster embedding outliers: top-10% by EXACT integer
      // squared distance to the assigned quantized centroid — the
      // embedding-space OOD/noise flag of a curation pass. The whole
      // chain (fit, assignment, distance, rank) is integer arithmetic,
      // so every emitted number replays bit-exactly in SQL
      val e = T(s, dir, "embeddings")
      Similarity.kmeansOutliers(e, "embedding", "vec_id", dim = 64,
                                k = 8, iters = 2, frac = 0.1)
        .groupBy("cluster")
        .agg(count(lit(1)).as("n"),
             sum(when(col("is_outlier"), 1L).otherwise(0L))
               .as("n_outliers"),
             coalesce(sum(when(col("is_outlier"), col("vec_id"))),
                      lit(0L)).cast("long").as("outlier_id_sum"),
             max("d2").as("max_d2"))
        .orderBy("cluster")
    }),

    "q_cluster_sample" -> ((s, dir) => {
      // cluster-balanced sampling — the topic-mixing shape: k-means
      // topic clusters (same portable fit as q_embed_clusters), then
      // an exact deterministic 25% sample INSIDE each cluster, so
      // dominant topics are downsampled proportionally
      val e = T(s, dir, "embeddings")
      val cl = Similarity.kmeansPortable(e, "embedding", dim = 64,
                                         k = 8, iters = 2)
      Curation.stratifiedSample(cl, col("cluster"), col("vec_id"), 0.25)
        .groupBy("cluster")
        .agg(count(lit(1)).as("n_sampled"),
             min("vec_id").as("min_id"),
             sum("vec_id").as("id_sum"))
        .orderBy("cluster")
    }),

    "q_frame_sampling" -> ((s, dir) => {
      // multimodal frame-sampling plumbing over fake binary payloads
      // (deterministic doc sample so the oracle sees the same payloads)
      val d = T(s, dir, "documents").where(col("doc_id") < 50)
      val withPayload = Multimodal.withFakePayload(d, "doc_id")
      Multimodal.sampleFrames(withPayload, "doc_id", "payload", 4)
        .agg(count(lit(1)).as("n_frames"),
             countDistinct(col("id")).as("n_docs"),
             sum(length(col("frame_bytes")).cast("long")).as("total_bytes"),
             sum(ascii(substring(col("frame_bytes").cast("string"), 1, 1))
               .cast("long")).as("first_byte_sum"))
    }),

    // --- multimodal plumbing ----------------------------------------
    "q_multimodal_features" -> ((s, dir) => {
      // binary-payload feature extraction (stub decoder, real plumbing)
      val d = T(s, dir, "documents").where(col("doc_id") < 100)
      val withPayload = Multimodal.withFakePayload(d, "doc_id")
      val feats = Multimodal.extractFeatures(withPayload, "doc_id",
                                             "payload", "image")
      feats.agg(count(lit(1)).as("n_rows"),
                sum(col("n_bytes").cast("long")).as("total_bytes"),
                countDistinct(col("id")).as("n_ids"),
                sum(col("width").cast("long")).as("width_sum"),
                sum(col("height").cast("long")).as("height_sum"))
    }),

    // --- pipeline: curation -----------------------------------------
    "q_pii_redact" -> ((s, dir) => {
      // PII scrub: the synthetic corpus is clean, so the query plants a
      // deterministic mix (email/url/phone by doc_id residue), then
      // counts matches and the redaction length delta
      val d = T(s, dir, "documents")
      val injected = concat(col("text"),
        when(col("doc_id") % 7 === 0,
             lit(" contact us at team@example.com")).otherwise(lit("")),
        when(col("doc_id") % 11 === 0,
             lit(" see https://example.com/data?id=1")).otherwise(lit("")),
        when(col("doc_id") % 13 === 0,
             lit(" call 555-867-5309")).otherwise(lit("")))
      val counts = TextAnalysis.piiCounts(injected).toMap
      d.select(counts("email").as("e"), counts("url").as("u"),
               counts("phone").as("p"),
               (length(injected) -
                length(TextAnalysis.redactPii(injected))).as("delta"))
        .agg(sum(col("e").cast("long")).as("n_emails"),
             sum(col("u").cast("long")).as("n_urls"),
             sum(col("p").cast("long")).as("n_phones"),
             sum(col("delta").cast("long")).as("chars_removed"))
    }),

    "q_text_normalize" -> ((s, dir) => {
      // canonicalization front of the curation pipeline: the corpus is
      // clean, so the query plants deterministic noise (tags/url/email
      // by doc_id residue) and proves the normalizer strips exactly it
      val d = T(s, dir, "documents")
      val raw = concat(
        when(col("doc_id") % 3 === 0,
             lit("<p>UPPER Case Title</p> ")).otherwise(lit("")),
        coalesce(col("text"), lit("")),
        when(col("doc_id") % 7 === 0,
             lit(" Visit HTTPS://EXAMPLE.COM/A?b=1 now")).otherwise(lit("")),
        when(col("doc_id") % 11 === 0,
             lit(" mail Bob.Smith@Example.org  please")).otherwise(lit("")))
      d.select(raw.as("raw"), TextAnalysis.normalize(raw).as("norm"))
        .agg(count(lit(1)).as("n_docs"),
             sum(when(col("norm") =!= col("raw"), 1L).otherwise(0L))
               .as("n_changed"),
             sum(length(col("raw")).cast("long")).as("len_raw"),
             sum(length(col("norm")).cast("long")).as("len_norm"),
             countDistinct(md5(col("norm"))).as("n_distinct"))
    }),

    "q_contamination" -> ((s, dir) => {
      // benchmark decontamination: corpus docs sharing a 5-gram with the
      // first-20-doc "eval set" (broadcast n-gram semi-match, one scan)
      val d = T(s, dir, "documents")
      val hits = Dedup.contamination(d.where(col("doc_id") >= 20),
                                     d.where(col("doc_id") < 20),
                                     "text", "doc_id", n = 5)
      hits.agg(count(lit(1)).as("n_contaminated"),
               sum(col("n_matched_grams")).cast("long").as("total_matched"),
               min(col("id")).as("first_doc"))
    }),

    "q_span_dedup" -> ((s, dir) => {
      // corpus-level repeated-span audit (the Lee et al. substring-
      // dedup shape over word 10-grams): per source, the token mass a
      // repeated-span removal pass would strip — merged-span counts
      // and removed-token totals, all integers
      val d = T(s, dir, "documents")
      graft.pipeline.Dedup
        .repeatedSpanAudit(d, "text", "doc_id", "source",
                           gramN = 10, minOccurrences = 2L)
        .orderBy("source")
    }),

    "q_span_audit" -> ((s, dir) => {
      // suffix-array-fidelity audit for q_span_dedup (the Lee et al.
      // exact semantics the word-gram pass approximates): exact
      // char-level repeated-substring removal mass — computable
      // WITHOUT a suffix array as the merged union of corpus-repeated
      // 50-char-gram spans (literal substring keys) — next to the
      // word-10-gram spans in char space, with their per-document
      // interval intersection. recall_ppm = how much of the exact
      // removal mass the production gram pass captures.
      val d = T(s, dir, "documents")
      graft.pipeline.Dedup
        .spanFidelityAudit(d, "text", "doc_id", "source",
                           charGramLen = 50, wordGramN = 10,
                           minOccurrences = 2L)
        .orderBy("source")
    }),

    "q_split_leakage" -> ((s, dir) => {
      // train/val/test leakage audit: exact-content fingerprints
      // shared across hash-split folds — per fold pair, distinct
      // shared fingerprints + docs carrying them on each side
      val d = T(s, dir, "documents")
      graft.pipeline.Curation
        .splitLeakage(d, "doc_id", "text")
        .orderBy("split_a", "split_b")
    }),

    "q_vocab_coverage" -> ((s, dir) => {
      // tokenizer-vocabulary OOV coverage per source against the
      // corpus top-1000 token head — total/OOV instances + OOV types
      val d = T(s, dir, "documents")
      graft.pipeline.TextAnalysis
        .vocabCoverage(d, "text", "source", k = 1000)
        .orderBy("source")
    }),

    "q_hash_split" -> ((s, dir) => {
      // deterministic content-addressed train/val/test assignment
      val d = T(s, dir, "documents")
      d.groupBy(Curation.hashSplit(col("doc_id")).as("split"))
        .agg(count(lit(1)).as("n"), min("doc_id").as("min_id"),
             max("doc_id").as("max_id"))
        .orderBy("split")
    }),

    "q_seq_packing" -> ((s, dir) => {
      // concat-and-chunk sequence packing: 512-token training sequences
      // over 8 content-addressed shards; per-shard packing efficiency
      val d = T(s, dir, "documents")
      Packing.sequenceStats(d, "doc_id",
                            TextAnalysis.tokenCount(col("text")),
                            seqLen = 512, nShards = 8)
        .groupBy("shard")
        .agg(count(lit(1)).as("n_seqs"), sum("n_docs").as("n_docs"),
             sum("n_tokens").as("n_tokens"))
        // avg fill = n_tokens / (512 * n_seqs) is derivable from the
        // emitted integer columns; it is NOT emitted because a rounded
        // dyadic ratio can land exactly on a 6-digit rounding tie,
        // where engines' HALF_UP vs HALF_EVEN conventions diverge —
        // the oracle surface stays integer-only
        .orderBy("shard")
    }),

    "q_token_chunks" -> ((s, dir) => {
      // sliding-window token chunking (32-token chunks, stride 24 —
      // 8-token overlap): generator projection only — no shuffle;
      // exact-integer sums make the derived average order-independent
      val d = T(s, dir, "documents")
      Packing.tokenChunks(d, "doc_id",
                          TextAnalysis.tokenCount(col("text")),
                          chunkSize = 32, stride = 24)
        .agg(countDistinct(col("doc_id")).as("n_docs"),
             count(lit(1)).as("n_chunks"),
             sum("chunk_tokens").as("sum_chunk_tokens"),
             sum(when(col("is_full"), 1L).otherwise(0L)).as("n_full"),
             round(sum("chunk_tokens") / count(lit(1)), 6)
               .as("avg_chunk_tokens"))
    }),

    "q_incremental_dedup" -> ((s, dir) => {
      // cross-crawl incremental dedup: the doc_id%3==0 "new batch"
      // against the rest-of-corpus "snapshot" — anti-join on the
      // content fingerprint, then batch-internal min-id dedup
      val d = T(s, dir, "documents")
      val surv = Dedup.incrementalDedup(
        d.where(col("doc_id") % 3 === 0),
        d.where(col("doc_id") % 3 =!= 0),
        "text", "doc_id", portable = true)
      surv.agg(count(lit(1)).as("n_new"),
               min("doc_id").as("min_id"), max("doc_id").as("max_id"),
               sum("doc_id").as("id_sum"))
    }),

    "q_bloom_dedup" -> ((s, dir) => {
      // Bloom-routed incremental dedup: same EXACT semantics as
      // q_incremental_dedup (the filter only routes; suspects verify
      // with the anti-join), different physical path — the snapshot
      // ships as a Bloom blob, cleared rows skip the join. The oracle
      // replays the content-level semantics directly.
      val d = T(s, dir, "documents")
      val surv = Dedup.incrementalDedupBloom(
        d.where(col("doc_id") % 4 === 0),
        d.where(col("doc_id") % 4 =!= 0),
        "text", "doc_id", expectedItems = 100000L, fpp = 0.03)
      surv.agg(count(lit(1)).as("n_new"),
               min("doc_id").as("min_id"), max("doc_id").as("max_id"),
               sum("doc_id").as("id_sum"))
    }),

    "q_chunk_dedup" -> ((s, dir) => {
      // sub-document dedup at 12-token block granularity: duplicated
      // blocks survive only at their globally-first (doc, pos); docs
      // reassemble from surviving blocks. The aggregate pins per-doc
      // outcomes via the id-weighted character checksum.
      val d = T(s, dir, "documents")
      val out = Dedup.chunkDedup(d, "text", "doc_id", blockTokens = 12)
        .select(col("doc_id"), col("text").as("newtext"))
      val norm = Dedup.normalizeText(col("text"))
      d.where(col("text").isNotNull)
        .select(col("doc_id"), norm.as("norm"))
        .join(out, Seq("doc_id"))
        .agg(count(lit(1)).as("n_docs"),
             sum(length(col("newtext"))).cast("long").as("chars_kept"),
             sum(when(col("newtext") =!= col("norm"), 1L).otherwise(0L))
               .cast("long").as("n_changed"),
             sum(col("doc_id") * length(col("newtext"))).cast("long")
               .as("id_weighted"))
    }),

    "q_lm_score" -> ((s, dir) => {
      // corpus-trained unigram-LM quality signal (CCNet-style): add-one
      // smoothed per-token NLL, integerized before summing so the
      // result is aggregation-order independent
      val d = T(s, dir, "documents")
      val nll = TextAnalysis.unigramNll(d, "text", "doc_id")
      nll.join(d.select(col("doc_id"), col("source")), Seq("doc_id"))
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
             sum("n_tokens").as("n_tokens"),
             round(-sum(col("nll_micro_sum")) /
                   (lit(1e6) * sum(col("n_tokens"))), 6).as("avg_nll"))
        .orderBy("source")
    }),

    "q_curation_pipeline" -> ((s, dir) => {
      // the composed pretraining-curation chain, end to end: exact
      // dedup -> quality gate -> benchmark decontamination -> sequence
      // packing, with per-stage survivor counts as the oracle surface.
      // Catalyst fuses each stage's semi/anti join into one corpus
      // pipeline; the count branches share scans via reused stages
      val d = T(s, dir, "documents")
      val bench = d.where(col("doc_id") < 20)
      val corpus = d.where(col("doc_id") >= 20)
      // flag-annotated dedup: input/dedup/quality counts come from ONE
      // conditional aggregate over flags (not one job per branch), and
      // n_clean = sum(n_docs) of the packing roll-up — the whole query
      // is two pipeline executions instead of five
      val flags = Dedup.exactDedupFlag(corpus, "text", "doc_id",
                                       portable = true)
        .withColumn("__q",
                    TextAnalysis.qualityScore(col("text")) >= 0.9)
      val clean = Curation.curateForTraining(corpus, bench, "text",
        "doc_id", qualityMin = 0.9, gramN = 5, portable = true)
      val packed = Packing.sequenceStats(clean, "doc_id",
        TextAnalysis.tokenCount(col("text")), seqLen = 512, nShards = 8)
      flags.agg(count(lit(1)).as("n_input"),
                sum(when(col("is_canonical"), 1L).otherwise(0L))
                  .as("n_dedup"),
                sum(when(col("is_canonical") && col("__q"), 1L)
                  .otherwise(0L)).as("n_quality"))
        .crossJoin(packed.agg(sum("n_docs").as("n_clean"),
                              count(lit(1)).as("n_seqs"),
                              sum("n_tokens").as("n_tokens")))
    }),

    "q_bm25_topk" -> ((s, dir) => {
      // full-text BM25 search: top-10 docs for a 3-term query; postings
      // are filtered to query terms BEFORE any shuffle, scores are
      // integerized per term for order-independent per-doc sums
      val d = T(s, dir, "documents")
      Search.bm25TopK(d, "text", "doc_id",
                      Seq("spark", "window", "merge"), k = 10)
    }),

    "q_phrase_search" -> ((s, dir) => {
      // exact phrase retrieval (quote queries): positional-postings
      // intersection — posexplode filtered to the phrase vocabulary
      // inside the scan stage, m-way (id, pos) equi-join, per-doc
      // occurrence counts
      val d = T(s, dir, "documents")
      Search.phraseSearch(d, "text", "doc_id", Seq("the", "query"))
        .orderBy("id")
    }),

    "q_containment" -> ((s, dir) => {
      // directed 3-gram containment (quote/boilerplate inclusion):
      // pairs where >= 1/2 of a's distinct grams occur in b — the
      // asymmetric overlap Jaccard misses; exact integer threshold and
      // counts. Pair source here is the oracle-replayable sampled
      // all-pairs block (production feeds minhashCandidates)
      val d = T(s, dir, "documents").where(col("doc_id") < 200)
      val ids = d.select("doc_id")
      val pairs = ids.toDF("id_a")
        .join(ids.toDF("id_b"), col("id_a") =!= col("id_b"))
      Dedup.containmentPairs(d, "text", "doc_id", pairs,
                             n = 3, minNum = 1L, minDen = 2L)
        .orderBy("id_a", "id_b")
    }),

    "q_hard_negatives" -> ((s, dir) => {
      // contrastive hard-negative mining: for each of the first 5
      // query vectors, the 5 most-similar corpus vectors with a
      // DIFFERENT label — exact BIGINT dot products of 1e-6-quantized
      // components, ties to the lower corpus id
      val e = T(s, dir, "embeddings")
      Similarity.hardNegatives(e, e.where(col("vec_id") < 5),
                               "embedding", "vec_id", "label",
                               "vec_id", "embedding", "label", k = 5)
        .orderBy("qid", "rank")
    }),

    "q_kcenter_sample" -> ((s, dir) => {
      // greedy k-center (farthest-point) diversity sample: seed at the
      // lowest id, then 4 exact-integer-distance argmax picks — each
      // round ONE narrow kernel projection over the corpus
      val e = T(s, dir, "embeddings")
      Similarity.kCenterSample(e, "embedding", "vec_id", dim = 64, k = 5)
    }),

    "q_isotonic" -> ((s, dir) => {
      // isotonic (PAV) calibration of the return-rate over an 11-bin
      // price grid: one bounded aggregate + exact driver PAV; fitted
      // rate emitted as floor(rate * 1e16) — injective while n^2 <
      // 1e16, so the SQL oracle replays it via the minimax identity
      val li = liTarget(T(s, dir, "lineitem"))
      graft.operators.Isotonic.isotonicEventRates(
        li.withColumn("bin", least(floor(col("l_extendedprice") / 10000),
                                   lit(10))),
        "bin", "y").orderBy("bin")
    }),

    "q_seasonal_anomaly" -> ((s, dir) => {
      // seasonal burst monitor: hourly volumes vs the per-(type,
      // hour-of-day) doubled-median baseline; flag hours at >= 3x the
      // slot median (all-integer test, histogram-pass median)
      val e = T(s, dir, "events")
      graft.operators.Monitoring
        .seasonalAnomalies(e, "event_type", "ts", kNum = 3L, kDen = 1L)
        .orderBy("event_type", "hour_epoch")
    }),

    "q_binaryfile_source" -> ((s, dir) => {
      // binaryFile ingestion — the raw-asset source a multimodal
      // pipeline starts from: 200 per-doc payload files staged on
      // disk, read back via the built-in binaryFile source, doc id
      // recovered from the path, bytes decoded back to text. Matching
      // the parquet-side oracle byte-for-byte proves the round trip
      // (the corpus is ASCII, so n_bytes == length(text))
      val d = T(s, dir, "documents")
        .where(col("text").isNotNull && col("doc_id") < 200)
        .select("doc_id", "text")
      val stage = "target/tmp/graft_binf"
      val dir0 = new java.io.File(stage)
      // clean slate: stale files from another SF would join the scan
      if (dir0.exists) dir0.listFiles().foreach(_.delete())
      dir0.mkdirs()
      d.collect().foreach { r =>
        java.nio.file.Files.write(
          java.nio.file.Paths.get(s"$stage/doc_${r.getLong(0)}.txt"),
          r.getString(1)
            .getBytes(java.nio.charset.StandardCharsets.UTF_8))
      }
      s.read.format("binaryFile").load(s"$stage/*.txt")
        .select(regexp_extract(col("path"), "doc_(\\d+)\\.txt", 1)
                  .cast("long").as("doc_id"),
                col("length").as("n_bytes"),
                decode(col("content"), "UTF-8").as("text"))
        .orderBy("doc_id")
    }),

    "q_stream_ewma" -> ((s, dir) => {
      // the EWMA burst chart maintained INCREMENTALLY: events replay
      // as a 3-file stream into a complete-mode DAILY-count
      // aggregation (exactly-once over the staged files); the dyadic
      // integer chart runs on the final maintained snapshot. Daily
      // counts are additive, so stream == batch by construction — the
      // oracle is the batch replay, verbatim q_ewma_anomaly
      val e = T(s, dir, "events")
        .where(col("ts").isNotNull && col("event_type").isNotNull)
        .select("event_id", "event_type", "ts")
      val stage = tmpWorkDir("graft_ewma_stage")
      stageBatchesOnePass(e, pmod(col("event_id"), lit(3)), 3, stage,
                          Seq("event_id"))
      stampStageMtimes(stage, 3)
      val staged = s.readStream
        .schema("event_id BIGINT, event_type STRING, ts TIMESTAMP_NTZ")
        .option("maxFilesPerTrigger", 1)
        .option("recursiveFileLookup", "true")
        .parquet(stage)
      val ckpt = tmpWorkDir("graft_ewma_ckpt")
      val oldSp = s.conf.get("spark.sql.shuffle.partitions")
      val q = try {
        s.conf.set("spark.sql.shuffle.partitions", streamStatePartitions)
        withConfiguredStateStore(s) {
          staged.groupBy(col("event_type").as("g"),
                         expr("CAST(CAST(ts AS TIMESTAMP) AS LONG) " +
                              "div 86400").as("day"))
            .agg(count(lit(1)).as("n"))
            .writeStream.outputMode("complete")
            .format("memory").queryName("graft_ewma_daily")
            .option("checkpointLocation", ckpt).start()
        }
      } finally s.conf.set("spark.sql.shuffle.partitions", oldSp)
      q.processAllAvailable(); q.stop()
      // the maintained snapshot is groups x days rows — rebuild a
      // fresh local frame (the sketch-state pattern) so the chart's
      // self-joins see clean attribute ids, not the memory sink's
      import s.implicits._
      val dailySnap = s.table("graft_ewma_daily").collect().toSeq
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
        .toDF("g", "day", "n")
      val out = graft.operators.Monitoring
        .ewmaAnomaliesFromDaily(dailySnap, windowDays = 14,
                                kNum = 6L, kDen = 5L)
        .withColumnRenamed("g", "event_type")
        .orderBy("event_type").collect().toSeq
      s.catalog.dropTempView("graft_ewma_daily")
      deleteRecursively(stage)
      deleteRecursively(ckpt)
      out.map(r => (r.getString(0), r.getLong(1), r.getLong(2),
                    r.getLong(3), r.getLong(4), r.getLong(5)))
        .toDF("event_type", "n_days_eval", "n_anomalies", "top_day",
              "top_n", "top_ewma_scaled")
    }),

    "q_stream_seasonal" -> ((s, dir) => {
      // the seasonal monitor maintained INCREMENTALLY: events replay
      // as a 3-file stream into a complete-mode hourly-count
      // aggregation (exactly-once over the staged files); burst flags
      // come from the final maintained snapshot. Hourly counts are
      // additive, so stream == batch by construction — the oracle is
      // the batch replay, verbatim q_seasonal_anomaly
      val e = T(s, dir, "events")
        .where(col("ts").isNotNull && col("event_type").isNotNull)
        .select("event_id", "event_type", "ts")
      val stage = tmpWorkDir("graft_seas_stage")
      stageBatchesOnePass(e, pmod(col("event_id"), lit(3)), 3, stage,
                          Seq("event_id"))
      stampStageMtimes(stage, 3)
      val staged = s.readStream
        .schema("event_id BIGINT, event_type STRING, ts TIMESTAMP_NTZ")
        .option("maxFilesPerTrigger", 1)
        .option("recursiveFileLookup", "true")
        .parquet(stage)
      val ckpt = tmpWorkDir("graft_seas_ckpt")
      // 8 state-store partitions (q_stream_sessions discipline): the
      // aggregation state is groups x hours, width buys nothing
      val oldSp = s.conf.get("spark.sql.shuffle.partitions")
      val q = try {
        s.conf.set("spark.sql.shuffle.partitions", streamStatePartitions)
        withConfiguredStateStore(s) {
          staged.groupBy(col("event_type").as("g"),
                         date_trunc("hour", col("ts")).as("h"))
            .agg(count(lit(1)).as("n"))
            .writeStream.outputMode("complete")
            .format("memory").queryName("graft_seasonal_hourly")
            .option("checkpointLocation", ckpt).start()
        }
      } finally s.conf.set("spark.sql.shuffle.partitions", oldSp)
      q.processAllAvailable(); q.stop()
      val out = graft.operators.Monitoring
        .seasonalAnomaliesFromHourly(s.table("graft_seasonal_hourly"),
                                     kNum = 3L, kDen = 1L)
        .withColumnRenamed("g", "event_type")
        .orderBy("event_type", "hour_epoch")
      deleteRecursively(stage)
      deleteRecursively(ckpt)
      out
    }),

    "q_group_split" -> ((s, dir) => {
      // leakage-safe train/val/test: the split hashes the USER, so all
      // of a user's events co-locate in one partition; per-split
      // user/row/value totals prove the assignment
      val e = T(s, dir, "events").where(col("value").isNotNull)
      Curation.groupSplit(e, "user_id")
        .groupBy("split")
        .agg(countDistinct("user_id").as("n_users"),
             count(lit(1)).as("n_rows"),
             sum(floor(col("value") * 100).cast("long"))
               .as("value_cents"))
        .orderBy("split")
    }),

    "q_winsorized" -> ((s, dir) => {
      // winsorized per-type value stats: tails clamped at the exact
      // [p10, p90] discrete quantiles — both thresholds from ONE
      // bucketed histogram crossing, all-integer output
      val e = T(s, dir, "events").where(col("value").isNotNull)
        .select(col("event_type"),
                floor(col("value") * 100).cast("long").as("cents"))
      graft.operators.Histograms
        .winsorizedStats(e, "event_type", "cents", 1, 10, 9, 10)
        .orderBy("event_type")
    }),

    "q_lsh_quality" -> ((s, dir) => {
      // LSH tuning report: candidate volume + exact recall of the
      // 32-hash/8-band MinHash stage against brute-force word-3-gram
      // Jaccard >= 1/2 truth on the doc_id < 200 sample
      val d = T(s, dir, "documents").where(col("doc_id") < 200)
      Dedup.lshQualityReport(d, "text", "doc_id", numHashes = 32,
                             bands = 8, thrNum = 1L, thrDen = 2L,
                             ngram = 3)
    }),

    "q_kappa" -> ((s, dir) => {
      // exact-rational Cohen's kappa between the lang-ID heuristic and
      // the gold lang column — chance-corrected agreement with no
      // float division anywhere (divide kappa_num/kappa_den at
      // display time)
      val d = T(s, dir, "documents")
      graft.operators.ModelMetrics.cohenKappaRational(
        d.select(col("lang"),
                 TextAnalysis.langId(col("text")).as("pred")),
        "lang", "pred")
    }),

    "q_er_clusters" -> ((s, dir) => {
      // composed entity resolution over customer names: exact-name
      // collapse -> FastSS edit-distance-1 blocking + levenshtein
      // verify -> connected components; reported as the cluster-size
      // histogram with a label checksum. The id%3 sample breaks the
      // synthetic names' digit-adjacency chains so the closure yields
      // a REAL size spectrum instead of one corpus-wide cluster
      val c = T(s, dir, "customer").select("c_custkey", "c_name")
        .where(col("c_custkey") % 3 === 0)
      Dedup.entityClusters(c, "c_custkey", "c_name")
        .groupBy("comp").agg(count(lit(1)).as("size"))
        .groupBy("size")
        .agg(count(lit(1)).as("n_clusters"),
             sum(col("comp")).as("comp_checksum"))
        .orderBy("size")
    }),

    "q_setsim_join" -> ((s, dir) => {
      // EXACT set-similarity self-join (prefix filter, no LSH): all
      // pairs with distinct-token Jaccard >= 19/20, verified with
      // integer intersect/union sizes — the oracle brute-forces every
      // pair, so a hash match proves the prefix filter misses nothing
      val d = T(s, dir, "documents")
      Dedup.setSimJoinExact(d, "text", "doc_id", thrNum = 19,
                            thrDen = 20)
        .agg(count(lit(1)).as("n_pairs"),
             coalesce(sum(col("id_a") + col("id_b")), lit(0L))
               .as("id_sum"),
             coalesce(sum(col("inter")), lit(0L)).as("inter_sum"),
             coalesce(sum(col("uni")), lit(0L)).as("uni_sum"))
    }),

    "q_hybrid_rrf" -> ((s, dir) => {
      // hybrid RAG retrieval: BM25 keyword list + embedding-cosine
      // list fused by integer reciprocal-rank fusion (1e6 div (60+r))
      val d = T(s, dir, "documents")
      val e = T(s, dir, "embeddings")
      Search.hybridRrf(d, e, "text", "doc_id", "vec_id", "embedding",
                       Seq("spark", "window", "merge"),
                       Array.fill(64)(1.0), kList = 20, k = 10)
    }),

    "q_tfidf_terms" -> ((s, dir) => {
      // keyword extraction: corpus-wide smoothed idf scored against the
      // first 10 docs' term counts, top-3 terms each; df aggregates
      // per-doc DISTINCT tokens (array_distinct map-side), the
      // vocab-sized (token, df) side broadcasts into the scoring join
      val d = T(s, dir, "documents")
      Search.tfidfTopTerms(d, d.where(col("doc_id") < 10),
                           "text", "doc_id", k = 3)
        .orderBy("id", "rank")
    }),

    "q_domain_mix" -> ((s, dir) => {
      // waterfilled domain-mixture resampling: src0:src1:src2 = 2:1:1
      // (exact binary weights), other sources dropped; deterministic
      // md5 keep decision
      val d = T(s, dir, "documents")
      Curation.domainMixture(d, "source", "doc_id",
          Map("src0" -> 0.5, "src1" -> 0.25, "src2" -> 0.25))
        .groupBy("source")
        .agg(count(lit(1)).as("n"), min("doc_id").as("min_id"),
             max("doc_id").as("max_id"))
        .orderBy("source")
    }),

    "q_quality_filter" -> ((s, dir) => {
      // percentile quality gate: keep docs at or above the 75th
      // percentile of subword count (exact percentile, one aggregate)
      val d = T(s, dir, "documents")
      val metric = TextAnalysis.subwordCount(col("text")).cast("double")
      val thr = Curation.percentileThreshold(d, metric, 0.75)
      d.where(metric >= thr)
        .agg(count(lit(1)).as("n_kept"),
             round(lit(thr), 6).as("threshold"),
             round(avg(length(col("text"))), 6).as("avg_chars"))
    }),

    "q_quality_by_lang" -> ((s, dir) => {
      // per-language quality gate: each language keeps its own top-40%
      // by subword count (a global cut would wipe out languages with
      // systematically shorter docs). min_subwords pins each stratum's
      // threshold through the hash.
      val d = T(s, dir, "documents")
      val metric = TextAnalysis.subwordCount(col("text")).cast("double")
      Curation.qualityFilterBy(d, col("lang"), metric, 0.6)
        .groupBy("lang")
        .agg(count(lit(1)).as("n_kept"),
             round(avg(metric), 6).as("avg_subwords"),
             round(min(metric), 6).as("min_subwords"))
        .orderBy("lang")
    }),

    "q_repetition" -> ((s, dir) => {
      // word-repetition curation signals per source (Gopher-style
      // top-bigram share and duplicate-trigram share); pure per-row
      // column expressions, one aggregate
      val d = T(s, dir, "documents")
      val rep = TextAnalysis.repetitionFeatures(col("text")).toMap
      d.groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
             round(avg(rep("top_bigram_frac")), 6)
               .as("avg_top_bigram_frac"),
             round(avg(rep("dup_trigram_frac")), 6)
               .as("avg_dup_trigram_frac"))
        .orderBy("source")
    }),

    "q_stratified_sample" -> ((s, dir) => {
      // exact deterministic 25% stratified sample per language:
      // within-stratum rank by (md5(id), id), keep ceil(0.25 * n)
      val d = T(s, dir, "documents")
      Curation.stratifiedSample(d, col("lang"), col("doc_id"), 0.25)
        .groupBy("lang")
        .agg(count(lit(1)).as("n_sampled"),
             sum("doc_id").cast("double").as("sum_id"))
        .orderBy("lang")
    }),

    "q_source_cap" -> ((s, dir) => {
      // per-source frequency cap (the anti-domain-dominance guard):
      // keep <= 120 docs per source, content-addressed pick order
      val d = T(s, dir, "documents")
      Curation.sourceCap(d, col("source"), col("doc_id"), cap = 120)
        .groupBy("source")
        .agg(count(lit(1)).as("n_kept"),
             sum("doc_id").cast("double").as("sum_id"))
        .orderBy("source")
    }),

    "q_token_budget" -> ((s, dir) => {
      // per-source TOKEN-budget fill (training mixes are specified in
      // tokens, not documents): content-addressed pick order, inclusive
      // running total <= 800 tokens per source; integer-only surface
      val d = T(s, dir, "documents")
      Curation.tokenBudgetSample(d, col("source"), col("doc_id"),
                                 TextAnalysis.tokenCount(col("text")),
                                 budget = 800L)
        .groupBy("source")
        .agg(count(lit(1)).as("n_kept"),
             sum(TextAnalysis.tokenCount(col("text")).cast("long"))
               .as("tokens"),
             sum("doc_id").as("sum_id"))
        .orderBy("source")
    }),

    "q_merge_upsert" -> ((s, dir) => {
      // lakehouse MERGE: a synthetic changelog (every 7th order, op =
      // D for custkeys ending in 0, else U carrying a fresh payload)
      // compacts per key and applies onto the customer snapshot —
      // anti-join + union, both sides keyed on c_custkey
      val c = T(s, dir, "customer")
      val chg = T(s, dir, "orders")
        .where(col("o_orderkey") % 7 === 0)
        .select(col("o_custkey").as("c_custkey"),
                concat(lit("cust-upd-"), col("o_orderkey")).as("c_name"),
                (col("o_orderkey") % 25).cast("int").as("c_nationkey"),
                col("o_totalprice").as("c_acctbal"),
                lit("MERGED").as("c_mktsegment"),
                when(col("o_custkey") % 10 === 0, "D").otherwise("U")
                  .as("op"),
                col("o_orderdate").as("ts"),
                col("o_orderkey").as("oid"))
      graft.operators.Temporal
        .mergeUpsert(c, chg, Seq("c_custkey"), "op", Seq("ts", "oid"))
        .orderBy("c_custkey")
    }),

    "q_lakehouse_pipeline" -> ((s, dir) => {
      // composed lakehouse maintenance: changelog -> struct-max
      // compaction stats -> MERGE apply -> snapshot-diff audit ->
      // one reconciliation row. The merged table is persisted once
      // and read by both the audit diff and the checksum; the diff's
      // I/D/U counts must reconcile with the changelog by
      // construction (inserts 0 here: every changed key exists in
      // the base snapshot)
      val c = T(s, dir, "customer")
      val chg = T(s, dir, "orders")
        .where(col("o_orderkey") % 7 === 0)
        .select(col("o_custkey").as("c_custkey"),
                concat(lit("cust-upd-"), col("o_orderkey")).as("c_name"),
                (col("o_orderkey") % 25).cast("int").as("c_nationkey"),
                col("o_totalprice").as("c_acctbal"),
                lit("MERGED").as("c_mktsegment"),
                when(col("o_custkey") % 10 === 0, "D").otherwise("U")
                  .as("op"),
                col("o_orderdate").as("ts"),
                col("o_orderkey").as("oid"))
      val merged = graft.operators.Temporal
        .mergeUpsert(c, chg, Seq("c_custkey"), "op", Seq("ts", "oid"))
        .persist()
      val cstat = chg.groupBy("c_custkey")
        .agg(count(lit(1)).as("__nv"))
        .agg(count(lit(1)).as("n_keys_changed"),
             sum("__nv").as("n_changes"),
             max("__nv").as("max_versions"))
      val aud = graft.operators.Temporal
        .snapshotDiff(c, merged, Seq("c_custkey"),
                      Seq("c_name", "c_acctbal", "c_mktsegment"))
        .agg(sum(when(col("change") === "I", 1L).otherwise(0L))
               .as("n_inserted"),
             sum(when(col("change") === "D", 1L).otherwise(0L))
               .as("n_deleted"),
             sum(when(col("change") === "U", 1L).otherwise(0L))
               .as("n_updated"))
      c.agg(count(lit(1)).as("n_base"))
        .crossJoin(cstat)
        .crossJoin(merged.agg(count(lit(1)).as("n_rows_after"),
                              sum("c_custkey").as("key_checksum")))
        .crossJoin(aud)
    }),

    "q_life_table" -> ((s, dir) => {
      // survival life table over user activity lifetimes (hour
      // periods — the corpus spans 30 days, so hours give a real
      // duration axis): at-risk / churned / censored counts per
      // duration, the integer-exact Kaplan-Meier input
      val e = T(s, dir, "events")
        .withColumn("ts", col("ts").cast("timestamp"))
      graft.operators.Temporal
        .lifeTable(e, "user_id", "ts", periodSeconds = 3600L)
        .orderBy("duration")
    }),

    "q_session_paths" -> ((s, dir) => {
      // top-40 session journey paths: 30-min-gap sessions, first 5
      // event types joined with '>' (truncation marked '>…'), counted
      // per distinct path — (ts, event_id) order in both engines
      val e = T(s, dir, "events")
        .withColumn("ts", col("ts").cast("timestamp"))
      graft.operators.Funnel
        .topPaths(e, "user_id", "ts", "event_id", "event_type",
                  gapSeconds = 1800L, maxSteps = 5, k = 40)
    }),

    "q_cusum" -> ((s, dir) => {
      // CUSUM change-point scan on daily event counts per type: the
      // peak |n·S_d| and its (earliest) period, all-integer via the
      // n-scaled cumulative deviation
      val e = T(s, dir, "events")
        .select(col("event_type"),
                expr("CAST(CAST(ts AS TIMESTAMP) AS LONG) div 86400L")
                  .as("p"))
      graft.operators.Monitoring
        .cusumScan(e, "event_type", "p")
        .orderBy("event_type")
    }),

    "q_concentration" -> ((s, dir) => {
      // revenue concentration (Gini sums) per order priority over
      // cent-quantized order totals: (n, Σv, Σ2·avgrank·v) — the
      // coefficient (w2-(n+1)s)/(n·s) is derivable, never computed
      val o = T(s, dir, "orders")
        .select(col("o_orderpriority"),
                floor(col("o_totalprice") * 100).cast("long").as("cents"))
      graft.operators.DistributedRank
        .groupedConcentration(o, "o_orderpriority", "cents",
                              bucketWidth = 1000000L)
        .orderBy("o_orderpriority")
    }),

    "q_group_mode" -> ((s, dir) => {
      // deterministic per-group mode (highest count, smallest value
      // on ties) of the integral quantity column — histogram +
      // struct-max, no window
      val li = T(s, dir, "lineitem")
      graft.operators.Histograms
        .groupedMode(li, "l_returnflag", "l_quantity")
        .orderBy("l_returnflag")
    }),

    "q_trend_sums" -> ((s, dir) => {
      // per-priority price-over-time regression sufficient statistics:
      // x = epoch-day offset from 1992-01-01 (day 8035), y = cents —
      // raw BIGINT sums only, slope/intercept derivable downstream
      val o = T(s, dir, "orders")
        .select(col("o_orderpriority"),
                (expr("CAST(CAST(o_orderdate AS TIMESTAMP) AS LONG) " +
                      "div 86400L") - lit(8035L)).as("x"),
                floor(col("o_totalprice") * 100).cast("long").as("y"))
      graft.operators.Histograms
        .groupedTrendSums(o, "o_orderpriority", "x", "y")
        .orderBy("o_orderpriority")
    }),

    "q_interval_union" -> ((s, dir) => {
      // uptime/SLA coverage: union length of each type's event
      // intervals ([ts, ts + max(1, floor(value*60)) s), the
      // q_overlap_peak derivation) — merged-run count + covered secs
      val e = s.read.parquet(s"$dir/events.parquet")
        .where(col("ts").isNotNull && col("value").isNotNull)
        .select(col("event_type"),
                col("ts").cast("timestamp").cast("long").as("start_sec"),
                greatest(lit(1L), floor(col("value") * 60).cast("long"))
                  .as("dur_sec"))
        .withColumn("end_sec", col("start_sec") + col("dur_sec"))
      graft.operators.Temporal
        .intervalUnion(e, "event_type", "start_sec", "end_sec")
        .orderBy("event_type")
    }),

    "q_weighted_median" -> ((s, dir) => {
      // quantity-weighted median price per line status: the smallest
      // price whose cumulative quantity reaches half the group total —
      // rational level, integer weights, raw stored answer
      val li = T(s, dir, "lineitem")
      graft.operators.Histograms
        .groupedWeightedQuantile(li, "l_linestatus", "l_extendedprice",
                                 "l_quantity", 1, 2)
        .orderBy("l_linestatus")
    }),

    "q_group_p90" -> ((s, dir) => {
      // per-status p90 price: the rational-level discrete quantile
      // (k = ceil(9n/10)-th smallest stored value)
      val li = T(s, dir, "lineitem")
      graft.operators.Histograms
        .groupedDiscreteQuantile(li, "l_linestatus", "l_extendedprice",
                                 9, 10)
        .orderBy("l_linestatus")
    }),

    "q_heavy_hitters" -> ((s, dir) => {
      // EXACT >1%-of-group heavy users per event type via the
      // Misra-Gries route-then-verify pattern (capacity 128 >
      // thetaDen 100 keeps the superset guarantee; the sketch bounds
      // the exact pass, the output is the exact count)
      val e = T(s, dir, "events")
      graft.operators.Ranking
        .heavyHitters(e, Seq("event_type"), "user_id",
                      thetaDen = 100, capacity = 128)
        .orderBy("event_type", "user_id")
    }),

    "q_kmv_distinct" -> ((s, dir) => {
      // KMV distinct-cardinality sketch (k = 64 smallest 52-bit md5
      // hashes, O(k) mergeable state) per order priority, with the
      // exact distinct-customer count alongside and an ALL rollup row
      // built by MERGING the per-group sketches — estimate, k-th
      // hash, and truth are all BIGINT
      val o = T(s, dir, "orders")
      graft.operators.Cardinality
        .kmvDistinct(o, "o_orderpriority", "o_custkey", k = 64)
        .orderBy("grp")
    }),

    "q_benford" -> ((s, dir) => {
      // Benford first-significant-digit audit of order totals: one
      // 9-row grouped count + integer deviations against 1e9-scaled
      // log10(1+1/d) literals (no engine computes a log)
      val o = T(s, dir, "orders")
      graft.operators.QualityChecks.benford(o, "o_totalprice")
    }),

    "q_ks_2samp" -> ((s, dir) => {
      // exact two-sample Kolmogorov-Smirnov distance between returned
      // and kept line-item price distributions (integer cents), as
      // the exact rational d_num/(n1*n2) plus the smallest price
      // attaining it — cumulative counts via the bucketed-prefix
      // discipline, no global sort
      val li = T(s, dir, "lineitem")
        .withColumn("cents",
                    round(col("l_extendedprice") * 100).cast("long"))
      graft.operators.Monitoring
        .ks2Sample(li, "cents", col("l_returnflag") === "R",
                   bucketWidth = 100000L)
    }),

    "q_iv_folds" -> ((s, dir) => {
      // binning-stability diagnostic: 8 disjoint deterministic folds,
      // per-fold EXACT IV at the pinned user splits — the subsampling
      // spread that says whether a variable's IV is a property of the
      // data or an artifact of one slice. One (fold, bin) aggregate;
      // everything after runs on the 32-row table.
      val li = liTarget(T(s, dir, "lineitem"))
      graft.operators.Monitoring.ivByFold(li,
        binIdx(col("l_extendedprice"), liSplits),
        pmod(col("l_orderkey") + col("l_linenumber"), lit(8)),
        "y").orderBy("fold")
    }),

    "q_json_audit" -> ((s, dir) => {
      // production JSON data-quality audit: schema'd from_json in
      // PERMISSIVE mode with a columnNameOfCorruptRecord audit column,
      // so malformed payloads are COUNTED per event type instead of
      // silently nulled — the operational twin of q_json_extract (whose
      // README probe documents this as the 100 TB tie-in). The
      // synthetic props are all clean, so the query plants
      // DETERMINISTIC damage first (event_id % 7 -> truncated JSON,
      // event_id % 11 -> key renamed away), exercising all three
      // outcomes: corrupt record, valid-but-missing key, clean parse.
      // Same plan discipline as q_json_extract: codegen'd JsonToStructs
      // over a pruned column, one hash aggregate, no UDFs.
      val e = T(s, dir, "events")
      val damaged = when(pmod(col("event_id"), lit(7)) === 0,
                         expr("substring(props, 1, length(props) - 1)"))
        .when(pmod(col("event_id"), lit(11)) === 0,
              regexp_replace(col("props"), "\"k\"", "\"x\""))
        .otherwise(col("props"))
      val schema = org.apache.spark.sql.types.StructType
        .fromDDL("k INT, _corrupt STRING")
      val parsed = e.select(col("event_type"),
        from_json(damaged, schema,
                  Map("columnNameOfCorruptRecord" -> "_corrupt",
                      "mode" -> "PERMISSIVE")).as("j"))
      parsed.groupBy("event_type")
        .agg(count(lit(1)).as("n_rows"),
             sum(when(col("j._corrupt").isNotNull, 1L).otherwise(0L))
               .as("n_corrupt"),
             sum(when(col("j._corrupt").isNull && col("j.k").isNull,
                      1L).otherwise(0L)).as("n_missing_key"),
             sum(coalesce(col("j.k").cast("long"), lit(0L)))
               .as("sum_k_parsed"))
        .orderBy("event_type")
    }),

    "q_kcore" -> ((s, dir) => {
      // 3-round k=3 core peel of the repeat co-purchase graph:
      // surviving parts + their within-subgraph degree (the dense
      // catalog backbone) — bounded unrolled plan, integer-only
      val li = s.read.parquet(s"$dir/lineitem.parquet")
      val edges = graft.operators.MarketBasket
        .coOccurrence(li, "l_orderkey", "l_partkey")
        .where(col("n") >= 2)
      graft.operators.Graph
        .kCoreSurvivors(edges, "item_a", "item_b", k = 3, rounds = 3)
        .orderBy("v") // caller releases pinned rounds via clearCache
    }),

    "q_json_extract" -> ((s, dir) => {
      // semi-structured projection: parse the events props JSON with
      // an explicit schema (from_json — codegen'd JsonToStructs, no
      // UDF, no inference scan) and aggregate the extracted integer
      // per event type; malformed/missing keys parse to null and are
      // excluded identically in both engines
      val e = T(s, dir, "events")
      e.select(col("event_type"),
               from_json(col("props"),
                         org.apache.spark.sql.types.StructType
                           .fromDDL("k INT")).getField("k").as("k"))
        .where(col("k").isNotNull)
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"), sum(col("k")).as("sum_k"),
             min(col("k")).as("min_k"), max(col("k")).as("max_k"),
             countDistinct(col("k")).as("nd_k"))
        .orderBy("event_type")
    }),

    "q_orc_roundtrip" -> ((s, dir) => {
      // ORC sink+source: write the orders slice as ORC, read it back
      // with an explicit schema, aggregate per priority — matching
      // the direct-parquet oracle proves the round-trip preserves
      // every value exactly (the q_jsonl_roundtrip contract, columnar
      // format edition)
      val o = T(s, dir, "orders")
        .select(col("o_orderkey"), col("o_orderpriority"),
                floor(col("o_totalprice") * 100).cast("long").as("cents"))
      val tmp = tmpWorkDir("graft_orc_sink")
      o.write.mode("overwrite").orc(tmp)
      s.read.schema("o_orderkey LONG, o_orderpriority STRING, " +
                    "cents LONG")
        .orc(tmp)
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("n"), sum(col("cents")).as("sum_cents"),
             sum(col("o_orderkey")).as("key_sum"))
        .orderBy("o_orderpriority")
    }),

    "q_schema_merge" -> ((s, dir) => {
      // schema evolution: two parquet parts written with DIFFERENT
      // column sets (the v1/v2 producer situation), read back as one
      // table via mergeSchema — each part's absent column reads null,
      // and the unified aggregate matches the direct-source oracle
      val o = T(s, dir, "orders")
      val tmp = tmpWorkDir("graft_schema_merge")
      o.where(col("o_orderkey") % 2 === 0)
        .select(col("o_orderkey"),
                floor(col("o_totalprice") * 100).cast("long").as("cents"))
        .write.mode("overwrite").parquet(s"$tmp/v1")
      o.where(col("o_orderkey") % 2 === 1)
        .select(col("o_orderkey"), col("o_orderpriority"))
        .write.mode("overwrite").parquet(s"$tmp/v2")
      s.read.option("mergeSchema", "true")
        .parquet(s"$tmp/v1", s"$tmp/v2")
        .agg(count(lit(1)).as("n_rows"),
             sum(col("o_orderkey")).as("key_sum"),
             count(col("cents")).as("n_v1"),
             count(col("o_orderpriority")).as("n_v2"),
             sum(col("cents")).as("sum_cents"))
    }),

    "q_locf_fill" -> ((s, dir) => {
      // LOCF imputation: per-type 2-hour event counts densified to
      // the corpus period range, gaps carried forward from the
      // latest earlier observation (null before a type's first) —
      // checksum row over the filled series
      val e = T(s, dir, "events")
      graft.operators.Temporal
        .locfFill(e, "event_type", "ts", periodSeconds = 7200L)
        .agg(count(lit(1)).as("n_cells"),
             sum(when(col("n").isNull, 1L).otherwise(0L))
               .as("n_gap_cells"),
             sum("filled").as("filled_sum"),
             sum(col("period") * col("filled")).as("weighted_sum"))
    }),

    "q_gains_table" -> ((s, dir) => {
      // deployment-side gains/lift table: 8 pinned score bands ranked
      // by event rate, cumulative population depth vs event capture
      // at each depth — ONE full-data aggregate, then every cumsum
      // runs on the 8-row band table. Truncated-ppm BIGINT shares.
      val li = liTarget(T(s, dir, "lineitem"))
      ScorecardAnalytics.gainsTable(
        li, binIdx(col("l_extendedprice"), liSplits8).cast("long"), "y")
    }),

    "q_threshold_sweep" -> ((s, dir) => {
      // cost-optimal operating threshold: classify the top-k rate-
      // ranked bands positive for every k, integer confusion matrix
      // from the same cumulative sums, flag the smallest k minimizing
      // 5*FN + 1*FP — the argmin is exact integer arithmetic.
      val li = liTarget(T(s, dir, "lineitem"))
      ScorecardAnalytics.thresholdSweep(
        li, binIdx(col("l_extendedprice"), liSplits8).cast("long"), "y",
        fnCost = 5L, fpCost = 1L)
    }),

    "q_char_analysis" -> ((s, dir) => {
      // characteristic analysis: decompose the train->test population
      // shift into per-variable per-bin score-shift mass
      // (pct_test - pct_train) * woe_train at the pinned splits —
      // closed-form WoE (the q_score_deploy discipline), so the
      // oracle replays at ANY SF. One aggregate per cohort per
      // variable; the report frame is bounded by bins x variables.
      val li = liTarget(T(s, dir, "lineitem"))
      val train = li.where(col("l_orderkey") % 2 === 0)
      val test = li.where(col("l_orderkey") % 2 === 1)
      ScorecardAnalytics.characteristicShift(train, test,
        Seq("l_extendedprice" ->
              binIdx(col("l_extendedprice"), liSplits).cast("long"),
            "l_quantity" ->
              binIdx(col("l_quantity"), qtySplits).cast("long")), "y")
    }),

    "q_migration_matrix" -> ((s, dir) => {
      // score-band migration matrix between two time snapshots:
      // per-customer integer-cents spend bands in each half of the
      // order history, counted by (band_then, band_now) over the
      // customers present in both — two keyed aggregates, one shuffle
      // join on the entity key, then a bands^2-bounded matrix with
      // truncated-ppm row shares. Integer cents keep the band
      // assignment order-independent (a double spend sum could flip
      // a boundary customer between engines).
      val o = T(s, dir, "orders")
      def bands(df: DataFrame): DataFrame = df
        .groupBy("o_custkey")
        .agg(sum(floor(col("o_totalprice") * 100).cast("long"))
               .as("sp"))
        .select(col("o_custkey"),
                when(col("sp") < 15000000L, 0L)
                  .when(col("sp") < 30000000L, 1L)
                  .when(col("sp") < 45000000L, 2L)
                  .otherwise(3L).as("band"))
      val pivot = lit("1998-06-01").cast("timestamp")
      ScorecardAnalytics.bandMigration(
        bands(o.where(col("o_orderdate") < pivot)),
        bands(o.where(col("o_orderdate") >= pivot)),
        "o_custkey", "band")
    }),

    "q_vintage" -> ((s, dir) => {
      // vintage analysis: cumulative return rate by months-on-book
      // per origination-month cohort — the credit-risk curve family.
      // Orderkey fact-fact join (co-partition/bucket both sides at
      // scale, the q_cycle_time recipe), ONE (cohort, age) aggregate,
      // then cohort-partitioned cumsums on the bounded curve table.
      val o = T(s, dir, "orders").select(
        col("o_orderkey"),
        (year(col("o_orderdate")) * 100 + month(col("o_orderdate")))
          .cast("long").as("cohort"),
        (year(col("o_orderdate")) * 12 + month(col("o_orderdate")))
          .as("om"))
      val li = T(s, dir, "lineitem").select(
        col("l_orderkey"),
        (year(col("l_shipdate")) * 12 + month(col("l_shipdate")))
          .as("sm"),
        when(col("l_returnflag") === "R", 1L).otherwise(0L).as("ev"))
      // the synthetic shipdates are not anchored to their order date,
      // so clamp to observations at/after origination (age >= 0) —
      // the standard vintage exposure definition
      val f = li.join(o, li("l_orderkey") === o("o_orderkey"))
        .where(col("sm") >= col("om"))
      graft.operators.Temporal.vintageCurves(
        f, col("cohort"), (col("sm") - col("om")).cast("long"),
        col("ev"))
    }),

    "q_seasonal_decompose" -> ((s, dir) =>
      // pure-BIGINT additive seasonal decomposition of the per-type
      // daily event series: centered 7-day moving-sum trend over the
      // zero-filled calendar spine, 7-scaled detrended mass rolled up
      // to a day-of-week profile (interior days only; numerator /
      // denominator integers — no truncating division on negatives)
      graft.operators.Monitoring.seasonalDecomposeDaily(
        T(s, dir, "events"), "event_type", "ts")),

    "q_item_neighbors" -> ((s, dir) => {
      // "customers also bought": top-3 basket-Jaccard neighbors per
      // item via the O(k)-state TopKAgg (never a window rank over the
      // pair fan-out), candidates from within-basket pair generation
      // (never an all-pairs item join). Report restricted to the 20
      // highest-support items (ties: smaller partkey).
      val li = T(s, dir, "lineitem")
      val nb = graft.operators.MarketBasket
        .itemNeighbors(li, "l_orderkey", "l_partkey", k = 3)
        .persist() // read twice: head selection + final restrict
      val head = nb.select("item", "c_item").distinct()
        .orderBy(col("c_item").desc, col("item").asc).limit(20)
      nb.join(broadcast(head.select("item")), Seq("item"))
        .orderBy("item", "rank")
    }),

    "q_bpe_merges" -> ((s, dir) =>
      // BPE tokenizer-training merge loop: ONE corpus pass builds the
      // weighted word vocabulary; 4 merge rounds then iterate on that
      // bounded table (count adjacent symbol pairs with within-word
      // multiplicity, argmax with the (freq desc, left, right)
      // tie-break, apply the left-to-right non-overlapping replace —
      // SQL replace() semantics, so every round replays exactly).
      graft.pipeline.Tokenizer.bpeMerges(
        T(s, dir, "documents"), "text", rounds = 4)),

    "q_bpe_exact" -> ((s, dir) =>
      // classical (fixpoint) BPE merge loop — the exactMerge variant
      // of q_bpe_merges: each round's winning pair is replaced to its
      // per-word FIXPOINT (`a a a a` -> `aa aa` in ONE round, the
      // textbook non-overlapping left-to-right semantics), not the
      // single space-padded replace pass. Every inner step is one
      // small job over the bounded vocabulary table; the oracle
      // replays the fixpoint as a per-word recursive CTE, so the
      // variant carries the same DuckDB hash contract as the default.
      graft.pipeline.Tokenizer.bpeMerges(
        T(s, dir, "documents"), "text", rounds = 4,
        exactMerge = true)),

    "q_bpe_encode" -> ((s, dir) => {
      // tokenizer train -> APPLY: learn 4 merges (the q_bpe_merges
      // contract) then encode the corpus with them — tokens/doc,
      // compression vs the char-split base, effective-vocabulary and
      // merged/single symbol census. All exact BIGINT tallies over the
      // bounded vocabulary table; the oracle replays training AND
      // encode at any SF (born de-pinned). The 4-row collect is the
      // training loop's driver-step, bounded by rounds.
      val d = T(s, dir, "documents")
      val merges = graft.pipeline.Tokenizer
        .bpeMerges(d, "text", rounds = 4).collect()
        .sortBy(_.getLong(0)) // merge order = round order, explicitly
        .map(r => (r.getString(1), r.getString(2))).toSeq
      graft.pipeline.Tokenizer.bpeEncode(d, "text", merges)
    }),

    "q_lpa_communities" -> ((s, dir) => {
      // synchronous label-propagation communities on the repeat
      // co-purchase graph (the q_kcore edge set): 3 fixed rounds,
      // most-frequent neighbor label with min-label ties — fully
      // deterministic, argmax folded into the round aggregate via
      // max(struct(cnt, MaxValue - lbl)), no window, no sort.
      val li = s.read.parquet(s"$dir/lineitem.parquet")
      val edges = graft.operators.MarketBasket
        .coOccurrence(li, "l_orderkey", "l_partkey")
        .where(col("n") >= 2)
      graft.operators.Graph
        .lpaCommunities(edges, "item_a", "item_b", rounds = 3)
    }),

    "q_freshness" -> ((s, dir) =>
      // multi-source ingest freshness audit: per event type, last
      // delivery, lag behind the freshest source, last-calendar-day
      // volume, 6h staleness flag — one (source, day) aggregate, all
      // maxima/lags on the calendar-bounded cell table
      graft.operators.QualityChecks.freshness(
        T(s, dir, "events"), "event_type", "ts", staleAfterS = 21600L)),

    "q_tokenizer_pipeline" -> ((s, dir) => {
      // composed tokenizer-training pipeline (the q_curation_pipeline
      // discipline, tokenizer edition): quality gate (>= 20 tokens)
      // -> exact dedup (smallest doc_id per identical text) -> BPE
      // merge rounds on the deduped corpus, with the stage censuses
      // attached to every merge row. The census aggregate and the BPE
      // vocab build both read the persisted dedup output once.
      val d = T(s, dir, "documents")
      val tc = graft.pipeline.TextAnalysis.tokenCount(col("text"))
      val kept = d.where(tc >= 20)
      val uniq = kept.groupBy("text")
        .agg(min("doc_id").as("doc_id")).persist()
      val census = d
        .agg(count(lit(1)).as("n_docs"),
             sum(when(tc >= 20, 1L).otherwise(0L)).as("n_kept"))
        .crossJoin(uniq.agg(count(lit(1)).as("n_unique")))
      graft.pipeline.Tokenizer.bpeMerges(uniq, "text", rounds = 2)
        .crossJoin(broadcast(census))
        .orderBy("round")
    }),

    "q_forecast_eval" -> ((s, dir) =>
      // seasonal-naive forecast backtest: predict each day's count
      // with the count 7 days earlier on the zero-filled spine,
      // pure-BIGINT error profile per type with the worst day folded
      // into the aggregate (no window rank) — the baseline a real
      // forecaster must beat, and a weekly-pattern drift tripwire
      graft.operators.Monitoring.forecastEval(
        T(s, dir, "events"), "event_type", "ts", lagDays = 7)),

    "q_stream_freshness" -> ((s, dir) => {
      // the freshness monitor maintained INCREMENTALLY: events replay
      // as a 3-file stream into a complete-mode (source, day) cell
      // aggregation; the staleness report reads the final maintained
      // snapshot. Daily cells are additive, so stream == batch by
      // construction — the oracle is q_freshness's, verbatim.
      val e = T(s, dir, "events")
        .where(col("ts").isNotNull && col("event_type").isNotNull)
        .select("event_id", "event_type", "ts")
      val stage = tmpWorkDir("graft_fresh_stage")
      stageBatchesOnePass(e, pmod(col("event_id"), lit(3)), 3, stage,
                          Seq("event_id"))
      stampStageMtimes(stage, 3)
      val staged = s.readStream
        .schema("event_id BIGINT, event_type STRING, ts TIMESTAMP_NTZ")
        .option("maxFilesPerTrigger", 1)
        .option("recursiveFileLookup", "true")
        .parquet(stage)
      val ckpt = tmpWorkDir("graft_fresh_ckpt")
      val oldSp = s.conf.get("spark.sql.shuffle.partitions")
      val q = try {
        s.conf.set("spark.sql.shuffle.partitions", streamStatePartitions)
        withConfiguredStateStore(s) {
          val sec = col("ts").cast("timestamp").cast("long")
          staged.groupBy(col("event_type").as("source"),
                         (sec / 86400L).cast("long").as("day"))
            .agg(count(lit(1)).as("n"), max(sec).as("max_s"))
            .writeStream.outputMode("complete")
            .format("memory").queryName("graft_fresh_cells")
            .option("checkpointLocation", ckpt).start()
        }
      } finally s.conf.set("spark.sql.shuffle.partitions", oldSp)
      q.processAllAvailable(); q.stop()
      val out = graft.operators.QualityChecks
        .freshnessFromCells(s.table("graft_fresh_cells"),
                            staleAfterS = 21600L)
        .orderBy("source")
      deleteRecursively(stage)
      deleteRecursively(ckpt)
      out
    }),

    "q_cuped" -> ((s, dir) => {
      // CUPED variance-reduced A/B readout: units are customers
      // (treatment = custkey parity), metric = post-period integer-
      // dollar spend, covariate = pre-period spend; absent-side units
      // fill zero (full outer). One keyed aggregate of BIGINT
      // sufficient statistics; theta and adjusted means are single
      // IEEE expressions over exactly-agreed integers.
      val o = T(s, dir, "orders")
      val pivot = lit("1998-06-01").cast("timestamp")
      def spend(p: Column) = o.where(p)
        .groupBy("o_custkey")
        .agg(sum(floor(col("o_totalprice")).cast("long")).as("v"))
      val pre = spend(col("o_orderdate") < pivot)
        .withColumnRenamed("v", "x")
      val post = spend(col("o_orderdate") >= pivot)
        .withColumnRenamed("v", "y")
      val units = pre.join(post, Seq("o_custkey"), "full_outer")
        .na.fill(0L, Seq("x", "y"))
        .withColumn("t", pmod(col("o_custkey"), lit(2)))
      graft.operators.Experiment.cuped(units, "t", "x", "y")
    }),

    "q_ab_srm" -> ((s, dir) => {
      // sample-ratio-mismatch gate on the cuped experiment's unit
      // population: customers with any order, arms by custkey parity;
      // 1-df chi-square vs the intended 50/50 as one IEEE expression
      // over the two BIGINT arm counts
      val units = T(s, dir, "orders").select("o_custkey").distinct()
        .withColumn("t", pmod(col("o_custkey"), lit(2)))
      graft.operators.Experiment.srmCheck(units, "t")
    }),

    "q_did" -> ((s, dir) => {
      // difference-in-differences on order-level integer-dollar
      // spend: arms by custkey parity, periods split at the cuped
      // pivot — one (arm, period) aggregate, 2x2 means + interaction
      // effect on the 4-cell table
      val o = T(s, dir, "orders")
      val pivot = lit("1998-06-01").cast("timestamp")
      graft.operators.Experiment.diffInDiff(
        o.withColumn("t", pmod(col("o_custkey"), lit(2)))
          .withColumn("p",
            when(col("o_orderdate") >= pivot, 1L).otherwise(0L))
          .withColumn("y", floor(col("o_totalprice")).cast("long")),
        "t", "p", "y")
    }),

    "q_did_segments" -> ((s, dir) => {
      // heterogeneous treatment effects: the same DiD folded per
      // market segment (orders joined to the customer dimension) —
      // one (segment, arm, period) aggregate, per-segment 2x2 cells
      val o = T(s, dir, "orders")
      val c = T(s, dir, "customer")
        .select(col("c_custkey"), col("c_mktsegment"))
      val pivot = lit("1998-06-01").cast("timestamp")
      graft.operators.Experiment.diffInDiffBySegment(
        o.join(c, o("o_custkey") === c("c_custkey"))
          .withColumn("t", pmod(col("o_custkey"), lit(2)))
          .withColumn("p",
            when(col("o_orderdate") >= pivot, 1L).otherwise(0L))
          .withColumn("y", floor(col("o_totalprice")).cast("long")),
        "c_mktsegment", "t", "p", "y")
    }),

    "q_ab_power" -> ((s, dir) => {
      // post-hoc power readout: customers as units (arm by custkey
      // parity), binary conversion = any post-pivot order; pooled
      // rate, 80%-power/5%-alpha minimal detectable effect (IEEE
      // sqrt — correctly rounded in both engines), and whether the
      // observed arm difference clears it
      val o = T(s, dir, "orders")
      val pivot = lit("1998-06-01").cast("timestamp")
      val units = o.groupBy("o_custkey")
        .agg(max(when(col("o_orderdate") >= pivot, 1L).otherwise(0L))
               .as("conv"))
        .withColumn("t", pmod(col("o_custkey"), lit(2)))
      graft.operators.Experiment.abPower(units, "t", "conv")
    })
  )

  private def scale6(v: Double): Double =
    if (!java.lang.Double.isFinite(v)) v  // BigDecimal rejects inf/NaN
    else BigDecimal(v).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble

  /** Coarser rounding for large-magnitude aggregates, where engine
    * summation order makes the 6th decimal unstable. */
  private def scale2(v: Double): Double =
    if (!java.lang.Double.isFinite(v)) v
    else BigDecimal(v).setScale(2, BigDecimal.RoundingMode.HALF_UP).toDouble

  /** Shared DuckDB replay of the 4-round BPE training chain (words ->
    * weighted vocab v0 -> per-round pair argmax b_i + replace v_i) —
    * used by BOTH the q_bpe_merges and q_bpe_encode oracles. The
    * vocabulary CTEs are MATERIALIZED: v1..v4 are multiply
    * referenced and DuckDB would otherwise re-derive the whole chain
    * transitively (the q_kcore lesson). */
  private val bpeTrainCtes: String =
    """words AS (
           SELECT unnest(string_split_regex(lower(text), ' +')) AS w
           FROM documents WHERE text IS NOT NULL),
         v0 AS MATERIALIZED (
           SELECT trim(regexp_replace(w, '(.)', '\1 ', 'g')) AS syms,
                  count(*) AS cnt
           FROM words WHERE length(w) > 0 GROUP BY 1),
         pf1 AS (
           SELECT a[i] AS p1, a[i + 1] AS p2, sum(cnt) AS f
           FROM (SELECT a, cnt,
                        unnest(range(1, len(a))) AS i
                 FROM (SELECT string_split(syms, ' ') AS a, cnt
                       FROM v0) t
                 WHERE len(a) >= 2)
           GROUP BY 1, 2),
         b1 AS (SELECT p1, p2, f FROM pf1
                ORDER BY f DESC, p1, p2 LIMIT 1),
         v1 AS MATERIALIZED (SELECT trim(replace(' ' || syms || ' ',
                         ' ' || b1.p1 || ' ' || b1.p2 || ' ',
                         ' ' || b1.p1 || b1.p2 || ' ')) AS syms, cnt
                FROM v0, b1),
         pf2 AS (
           SELECT a[i] AS p1, a[i + 1] AS p2, sum(cnt) AS f
           FROM (SELECT a, cnt, unnest(range(1, len(a))) AS i
                 FROM (SELECT string_split(syms, ' ') AS a, cnt
                       FROM v1) t
                 WHERE len(a) >= 2)
           GROUP BY 1, 2),
         b2 AS (SELECT p1, p2, f FROM pf2
                ORDER BY f DESC, p1, p2 LIMIT 1),
         v2 AS MATERIALIZED (SELECT trim(replace(' ' || syms || ' ',
                         ' ' || b2.p1 || ' ' || b2.p2 || ' ',
                         ' ' || b2.p1 || b2.p2 || ' ')) AS syms, cnt
                FROM v1, b2),
         pf3 AS (
           SELECT a[i] AS p1, a[i + 1] AS p2, sum(cnt) AS f
           FROM (SELECT a, cnt, unnest(range(1, len(a))) AS i
                 FROM (SELECT string_split(syms, ' ') AS a, cnt
                       FROM v2) t
                 WHERE len(a) >= 2)
           GROUP BY 1, 2),
         b3 AS (SELECT p1, p2, f FROM pf3
                ORDER BY f DESC, p1, p2 LIMIT 1),
         v3 AS MATERIALIZED (SELECT trim(replace(' ' || syms || ' ',
                         ' ' || b3.p1 || ' ' || b3.p2 || ' ',
                         ' ' || b3.p1 || b3.p2 || ' ')) AS syms, cnt
                FROM v2, b3),
         pf4 AS (
           SELECT a[i] AS p1, a[i + 1] AS p2, sum(cnt) AS f
           FROM (SELECT a, cnt, unnest(range(1, len(a))) AS i
                 FROM (SELECT string_split(syms, ' ') AS a, cnt
                       FROM v3) t
                 WHERE len(a) >= 2)
           GROUP BY 1, 2),
         b4 AS (SELECT p1, p2, f FROM pf4
                ORDER BY f DESC, p1, p2 LIMIT 1),
         v4 AS MATERIALIZED (SELECT trim(replace(' ' || syms || ' ',
                         ' ' || b4.p1 || ' ' || b4.p2 || ' ',
                         ' ' || b4.p1 || b4.p2 || ' ')) AS syms, cnt
                FROM v3, b4)"""

  /** DuckDB replay of the 4-round EXACT-merge (fixpoint) BPE training
    * chain — q_bpe_exact's oracle. Differs from [[bpeTrainCtes]] in
    * exactly one way: each round's replace iterates to the per-word
    * fixpoint via a recursive CTE instead of one pass. The vocabulary
    * is keyed by the original word `w` throughout so the recursion's
    * UNION dedup can never collapse two distinct words whose symbol
    * strings converge (the per-row multiset must survive for the
    * weighted pair counts). */
  private val bpeExactTrainCtes: String = {
    def rnd(i: Int): String = {
      val prev = s"e${i - 1}"
      // the replace expression is repeated rather than bound: a
      // lateral alias inside a recursive member confuses the planner
      def rep(syms: String) =
        s"""trim(replace(' ' || $syms || ' ',
                 ' ' || b.p1 || ' ' || b.p2 || ' ',
                 ' ' || b.p1 || b.p2 || ' '))"""
      s"""pfx$i AS (
           SELECT a[j] AS p1, a[j + 1] AS p2, sum(cnt) AS f
           FROM (SELECT a, cnt, unnest(range(1, len(a))) AS j
                 FROM (SELECT string_split(syms, ' ') AS a, cnt
                       FROM $prev) t
                 WHERE len(a) >= 2)
           GROUP BY 1, 2),
         bx$i AS (SELECT p1, p2, f FROM pfx$i
                  ORDER BY f DESC, p1, p2 LIMIT 1),
         fx$i AS (
           SELECT w, syms, cnt FROM $prev
           UNION
           SELECT f.w, ${rep("f.syms")} AS syms, f.cnt
           FROM fx$i f, bx$i b
           WHERE ${rep("f.syms")} <> f.syms),
         e$i AS MATERIALIZED (
           SELECT f.w, f.syms, f.cnt
           FROM fx$i f, bx$i b
           WHERE ${rep("f.syms")} = f.syms)"""
    }
    s"""wordsx AS (
           SELECT unnest(string_split_regex(lower(text), ' +')) AS w
           FROM documents WHERE text IS NOT NULL),
         e0 AS MATERIALIZED (
           SELECT w,
                  trim(regexp_replace(w, '(.)', '\\1 ', 'g')) AS syms,
                  count(*) AS cnt
           FROM wordsx WHERE length(w) > 0 GROUP BY 1, 2),
         ${(1 to 4).map(rnd).mkString(",\n         ")}"""
  }

  def oracleSql: Map[String, String] = Map(
    "q_split_classes" ->
      """SELECT CASE WHEN nullif(l_quantity, 50) IS NULL THEN 2
                     WHEN nullif(l_quantity, 50) IN (1, 2) THEN 1
                     ELSE 0 END AS cls,
                count(*) AS n
         FROM lineitem GROUP BY 1 ORDER BY 1""",

    "q_cat_others_cutoff" ->
      """SELECT p_brand, count(*) AS n,
                (count(*) * 1.0 / (SELECT count(*) FROM part) < 0.04)::INT
                  AS is_others
         FROM part GROUP BY 1 ORDER BY 1""",

    "q_cat_rate_order" ->
      """WITH agg AS (
           SELECT o_orderpriority, count(*) AS n,
                  round(avg(CASE WHEN o_orderstatus = 'F' THEN 1.0
                            ELSE 0.0 END), 6) AS event_rate
           FROM orders GROUP BY 1)
         SELECT o_orderpriority, n, event_rate,
                row_number() OVER (ORDER BY event_rate, o_orderpriority) - 1
                  AS ordinal
         FROM agg ORDER BY ordinal""",

    "q_outlier_iqr" ->
      """WITH q AS (
           SELECT quantile_cont(l_extendedprice, 0.25)::DOUBLE q1,
                  quantile_cont(l_extendedprice, 0.75)::DOUBLE q3
           FROM lineitem)
         SELECT round(q1 - 1.5 * (q3 - q1), 6) AS lower_bound,
                round(q3 + 1.5 * (q3 - q1), 6) AS upper_bound,
                (SELECT count(*) FROM lineitem, q
                 WHERE l_extendedprice > q3 + 1.5 * (q3 - q1)
                    OR l_extendedprice < q1 - 1.5 * (q3 - q1))
                  AS n_outliers,
                (SELECT count(*) FROM lineitem, q
                 WHERE l_extendedprice <= q3 + 1.5 * (q3 - q1)
                   AND l_extendedprice >= q1 - 1.5 * (q3 - q1))
                  AS n_inliers
         FROM q""",

    "q_outlier_zscore" ->
      """WITH m AS (SELECT median(o_totalprice)::DOUBLE med FROM orders),
           d AS (SELECT median(abs(o_totalprice - med))::DOUBLE mad
                 FROM orders, m)
         SELECT (SELECT count(*) FROM orders, m, d
                 WHERE abs(0.6745 * (o_totalprice - med) / mad) > 3.5)
                  AS n_outliers,
                (SELECT count(*) FROM orders) AS n""",

    "q_prebin_agg" ->
      """SELECT CASE WHEN l_extendedprice < 25000 THEN 0
                     WHEN l_extendedprice < 50000 THEN 1
                     WHEN l_extendedprice < 75000 THEN 2
                     ELSE 3 END AS bin,
                sum(CASE WHEN l_returnflag = 'R' THEN 0 ELSE 1 END)::BIGINT
                  AS nonevent,
                sum(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END)::BIGINT
                  AS event
         FROM lineitem GROUP BY 1 ORDER BY 1""",

    "q_binning_table" ->
      """WITH b AS (
           SELECT CASE WHEN l_extendedprice < 25000 THEN 0
                       WHEN l_extendedprice < 50000 THEN 1
                       WHEN l_extendedprice < 75000 THEN 2
                       ELSE 3 END AS bin,
                  CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS y
           FROM lineitem),
         agg AS (
           SELECT bin, count(*) AS n, sum(y) AS e, count(*) - sum(y) AS ne
           FROM b GROUP BY 1),
         tot AS (SELECT sum(e)::DOUBLE te, sum(ne)::DOUBLE tne FROM agg)
         SELECT bin::BIGINT AS bin, n::BIGINT AS count,
                ne::BIGINT AS nonevent, e::BIGINT AS event,
                round(e * 1.0 / n, 6) AS event_rate,
                round(ln((ne / tne) / (e / te)), 6) AS woe,
                round((ne / tne - e / te) * ln((ne / tne) / (e / te)), 6)
                  AS iv
         FROM agg, tot ORDER BY bin""",

    "q_weighted_fit" ->
      """WITH b AS (
           SELECT CASE WHEN l_extendedprice < 25000 THEN 0
                       WHEN l_extendedprice < 50000 THEN 1
                       WHEN l_extendedprice < 75000 THEN 2
                       ELSE 3 END AS bin,
                  CASE WHEN l_returnflag = 'R' THEN l_quantity
                       ELSE 0 END AS we,
                  CASE WHEN l_returnflag <> 'R' THEN l_quantity
                       ELSE 0 END AS wne
           FROM lineitem),
         agg AS (
           SELECT bin, sum(we + wne) AS n, sum(we) AS e, sum(wne) AS ne
           FROM b GROUP BY 1),
         tot AS (SELECT sum(e)::DOUBLE te, sum(ne)::DOUBLE tne FROM agg)
         SELECT bin::BIGINT AS bin, n::BIGINT AS count,
                ne::BIGINT AS nonevent, e::BIGINT AS event,
                round(e / (e + ne), 6) AS event_rate,
                round(ln((ne / tne) / (e / te)), 6) AS woe
         FROM agg, tot ORDER BY bin""",

    "q_cont_table" ->
      """SELECT CASE WHEN l_quantity < 10 THEN 0
                     WHEN l_quantity < 25 THEN 1
                     WHEN l_quantity < 40 THEN 2
                     ELSE 3 END::BIGINT AS bin,
                count(*)::BIGINT AS count,
                round(sum(l_extendedprice), 6) AS sum,
                round(avg(l_extendedprice), 6) AS mean,
                round(stddev_pop(l_extendedprice), 6) AS std,
                round(min(l_extendedprice), 6) AS min,
                round(max(l_extendedprice), 6) AS max,
                sum(CASE WHEN l_extendedprice = 0 THEN 1 ELSE 0 END)::BIGINT
                  AS zeros
         FROM lineitem GROUP BY 1 ORDER BY 1""",

    "q_woe_transform" ->
      """WITH b AS (
           SELECT l_orderkey, l_linenumber::BIGINT AS l_linenumber,
                  CASE WHEN l_extendedprice < 25000 THEN 0
                       WHEN l_extendedprice < 50000 THEN 1
                       WHEN l_extendedprice < 75000 THEN 2
                       ELSE 3 END AS bin,
                  CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS y
           FROM lineitem),
         agg AS (
           SELECT bin, count(*) AS n, sum(y) AS e, count(*) - sum(y) AS ne
           FROM b GROUP BY 1),
         tot AS (SELECT sum(e)::DOUBLE te, sum(ne)::DOUBLE tne FROM agg),
         woe AS (
           SELECT bin, round(ln((ne / tne) / (e / te)), 6) AS woe
           FROM agg, tot)
         SELECT b.l_orderkey, b.l_linenumber, woe.woe
         FROM b JOIN woe USING (bin)
         ORDER BY l_orderkey, l_linenumber""",

    "q_ks_gini" -> ksGiniSql,

    "q_chi2_adjacent" ->
      // Pearson chi2 cell order mirrors Stats.chi2Contingency:
      // (ne1,ne2,ev1,ev2), e_ij = (rowSum_i * colSum_j) / total
      """WITH b AS (
           SELECT CASE WHEN l_extendedprice < 25000 THEN 0
                       WHEN l_extendedprice < 50000 THEN 1
                       WHEN l_extendedprice < 75000 THEN 2
                       ELSE 3 END AS bin,
                  CASE WHEN l_returnflag = 'R' THEN 1.0 ELSE 0.0 END AS y
           FROM lineitem),
         agg AS (
           SELECT bin,
                  sum(CASE WHEN y = 0 THEN 1.0 ELSE 0.0 END) AS ne,
                  sum(CASE WHEN y = 1 THEN 1.0 ELSE 0.0 END) AS ev
           FROM b GROUP BY 1),
         p AS (
           SELECT a.bin AS pair, a.ne AS ne1, a.ev AS ev1,
                  c.ne AS ne2, c.ev AS ev2
           FROM agg a JOIN agg c ON c.bin = a.bin + 1),
         e AS (
           SELECT pair, ne1, ne2, ev1, ev2,
                  ne1 + ne2 + ev1 + ev2 AS tot,
                  ((ne1 + ne2) * (ne1 + ev1)) / (ne1 + ne2 + ev1 + ev2)
                    AS e11,
                  ((ne1 + ne2) * (ne2 + ev2)) / (ne1 + ne2 + ev1 + ev2)
                    AS e12,
                  ((ev1 + ev2) * (ne1 + ev1)) / (ne1 + ne2 + ev1 + ev2)
                    AS e21,
                  ((ev1 + ev2) * (ne2 + ev2)) / (ne1 + ne2 + ev1 + ev2)
                    AS e22
           FROM p),
         s AS (
           SELECT pair, tot,
                  ((ne1 - e11) * (ne1 - e11)) / e11
                  + ((ne2 - e12) * (ne2 - e12)) / e12
                  + ((ev1 - e21) * (ev1 - e21)) / e21
                  + ((ev2 - e22) * (ev2 - e22)) / e22 AS stat
           FROM e)
         SELECT pair::BIGINT AS pair, round(stat, 6) AS chi2,
                round(sqrt(stat / tot), 6) AS cramer_v
         FROM s ORDER BY pair""",

    "q_welch_adjacent" ->
      """WITH agg AS (
           SELECT CASE WHEN l_quantity < 10 THEN 0
                       WHEN l_quantity < 25 THEN 1
                       WHEN l_quantity < 40 THEN 2
                       ELSE 3 END AS bin,
                  count(*)::DOUBLE AS n,
                  avg(l_extendedprice) AS u,
                  stddev_pop(l_extendedprice) AS s
           FROM lineitem GROUP BY 1),
         p AS (
           SELECT a.bin AS pair, a.n n1, a.u u1, a.s s1,
                  c.n n2, c.u u2, c.s s2
           FROM agg a JOIN agg c ON c.bin = a.bin + 1),
         v AS (
           SELECT pair, u1, u2, n1, n2,
                  (s1 * s1) / n1 AS vn1, (s2 * s2) / n2 AS vn2
           FROM p)
         SELECT pair::BIGINT AS pair,
                round((u1 - u2) / sqrt(vn1 + vn2), 6) AS t,
                round(((vn1 + vn2) * (vn1 + vn2))
                      / ((vn1 * vn1) / (n1 - 1)
                         + (vn2 * vn2) / (n2 - 1)), 6) AS dof
         FROM v ORDER BY pair""",

    "q_divergences" ->
      // term formulas and the left-to-right bin-ordered summation mirror
      // core.Metrics (jeffrey/jensenShannon/hellinger/triangular)
      """WITH b AS (
           SELECT CASE WHEN o_totalprice < 100000 THEN 0
                       WHEN o_totalprice < 200000 THEN 1
                       WHEN o_totalprice < 300000 THEN 2
                       ELSE 3 END AS bin,
                  (o_orderdate < TIMESTAMP '1998-01-01') AS is_e
           FROM orders),
         g0 AS (
           SELECT bin,
                  sum(CASE WHEN is_e THEN 1 ELSE 0 END)::DOUBLE AS ce,
                  sum(CASE WHEN is_e THEN 0 ELSE 1 END)::DOUBLE AS ca
           FROM b GROUP BY 1),
         g AS (
           SELECT r.bin, coalesce(ce, 0.0) AS ce, coalesce(ca, 0.0) AS ca
           FROM (SELECT unnest(range(0, 4)) AS bin) r
           LEFT JOIN g0 ON g0.bin = r.bin),
         t AS (SELECT sum(ce) te, sum(ca) ta FROM g),
         d AS (SELECT bin, ce / te AS p, ca / ta AS q FROM g, t),
         c AS (
           SELECT bin, p, q,
                  CASE WHEN p - q = 0 THEN 0.0
                       ELSE (p - q) * ln(p / q) END AS jf,
                  0.5 * ((CASE WHEN p = 0 THEN 0.0
                          ELSE p * ln(p / (0.5 * (p + q))) END)
                       + (CASE WHEN q = 0 THEN 0.0
                          ELSE q * ln(q / (0.5 * (p + q))) END)) AS js,
                  0.5 * (sqrt(p) - sqrt(q)) * (sqrt(p) - sqrt(q)) AS hl,
                  CASE WHEN p + q = 0 THEN 0.0
                       ELSE (p - q) * (p - q) / (p + q) END AS tr
           FROM d)
         SELECT
           round(list_reduce(list_prepend(0.0::DOUBLE,
                 list(jf ORDER BY bin)), (a, b) -> a + b), 6) AS jeffrey,
           round(list_reduce(list_prepend(0.0::DOUBLE,
                 list(js ORDER BY bin)), (a, b) -> a + b), 6) AS js,
           round(list_reduce(list_prepend(0.0::DOUBLE,
                 list(hl ORDER BY bin)), (a, b) -> a + b), 6) AS hellinger,
           round(list_reduce(list_prepend(0.0::DOUBLE,
                 list(tr ORDER BY bin)), (a, b) -> a + b), 6) AS triangular
         FROM c""",

    "q_hhi" ->
      """WITH g0 AS (
           SELECT CASE WHEN l_extendedprice < 25000 THEN 0
                       WHEN l_extendedprice < 50000 THEN 1
                       WHEN l_extendedprice < 75000 THEN 2
                       ELSE 3 END AS bin,
                  count(*)::DOUBLE AS n
           FROM lineitem GROUP BY 1),
         g AS (
           SELECT r.bin, coalesce(n, 0.0) AS n
           FROM (SELECT unnest(range(0, 4)) AS bin) r
           LEFT JOIN g0 ON g0.bin = r.bin),
         t AS (SELECT sum(n) AS tot FROM g),
         h AS (
           SELECT list_reduce(list_prepend(0.0::DOUBLE,
                  list((n / tot) * (n / tot) ORDER BY bin)),
                  (a, b) -> a + b) AS hhi
           FROM g, t)
         SELECT round(hhi, 6) AS hhi,
                round((hhi - 1.0 / 4) / (1 - 1.0 / 4), 6) AS hhi_norm
         FROM h""",

    "q_csv_source" ->
      """SELECT count(*) AS n, sum(n_nationkey)::BIGINT AS key_sum,
                sum(n_regionkey)::BIGINT AS region_sum,
                min(n_name) AS first_name, max(n_name) AS last_name
         FROM nation""",

    "q_fisher_exact" ->
      // hypergeometric pmf via lgamma; scipy's two-sided rule: sum pmf(x)
      // over the support where pmf(x) <= pmf(observed) * (1 + 1e-7)
      """WITH t AS (
           SELECT sum(CASE WHEN s_acctbal < 4500 AND s_nationkey < 12
                      THEN 1 ELSE 0 END)::BIGINT AS a,
                  sum(CASE WHEN s_acctbal < 4500 AND s_nationkey >= 12
                      THEN 1 ELSE 0 END)::BIGINT AS b,
                  sum(CASE WHEN s_acctbal >= 4500 AND s_nationkey < 12
                      THEN 1 ELSE 0 END)::BIGINT AS c,
                  sum(CASE WHEN s_acctbal >= 4500 AND s_nationkey >= 12
                      THEN 1 ELSE 0 END)::BIGINT AS d
           FROM supplier),
         par AS (
           SELECT a, b, c, d, a+b+c+d AS n, a+b AS k, a+c AS m FROM t),
         grid AS (
           SELECT par.*,
                  unnest(range(greatest(0, k-(n-m)), least(k, m)+1)) AS x
           FROM par),
         pmf AS (
           SELECT *, exp( lgamma(m+1) - lgamma(x+1) - lgamma(m-x+1)
                        + lgamma(n-m+1) - lgamma(k-x+1)
                        - lgamma(n-m-k+x+1)
                        - (lgamma(n+1) - lgamma(k+1) - lgamma(n-k+1)) )
                     AS p
           FROM grid),
         obs AS (SELECT p AS p_obs FROM pmf WHERE x = a)
         SELECT round(CASE WHEN b*c = 0 THEN 'inf'::DOUBLE
                      ELSE (a*d)::DOUBLE / (b*c) END, 6) AS odds_ratio,
                round(least(sum(CASE WHEN p <= p_obs * (1 + 1e-7)
                                THEN p ELSE 0 END), 1.0), 6) AS p_value
         FROM pmf, obs GROUP BY ALL""",

    "q_transform_sink" ->
      """WITH b AS (
           SELECT CASE WHEN l_extendedprice < 25000 THEN 0
                       WHEN l_extendedprice < 50000 THEN 1
                       WHEN l_extendedprice < 75000 THEN 2
                       ELSE 3 END AS bin,
                  CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS y
           FROM lineitem),
         agg AS (
           SELECT bin, sum(y) AS e, count(*) - sum(y) AS ne
           FROM b GROUP BY 1),
         tot AS (SELECT sum(e)::DOUBLE te, sum(ne)::DOUBLE tne FROM agg),
         woe AS (
           SELECT bin, round(ln((ne / tne) / (e / te)), 6) AS woe
           FROM agg, tot)
         SELECT woe.woe, count(*) AS n
         FROM b JOIN woe USING (bin)
         GROUP BY 1 ORDER BY 1""",

    "q_ml_pipeline" ->
      // spark.ml Pipeline replay: the binning stage's WoE column is the
      // same CASE arithmetic as q_scorecard; the saturated logistic MLE
      // is coef = -1, intercept = ln(te/tne), so LBFGS predictions
      // reduce to the per-bin threshold test woe < b0 => predict event
      // (then n_correct = e, else ne)
      """WITH b AS (
           SELECT CASE WHEN l_extendedprice < 25000 THEN 0
                       WHEN l_extendedprice < 50000 THEN 1
                       WHEN l_extendedprice < 75000 THEN 2
                       ELSE 3 END AS bin,
                  CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS y
           FROM lineitem),
         agg AS (
           SELECT bin, count(*) AS n, sum(y) AS e, count(*) - sum(y) AS ne
           FROM b GROUP BY 1),
         tot AS (SELECT sum(e)::DOUBLE te, sum(ne)::DOUBLE tne FROM agg),
         w AS (
           SELECT bin, n, e, ne, ln((ne / tne) / (e / te)) AS woe,
                  ln(te / tne) AS b0
           FROM agg, tot)
         SELECT bin::BIGINT AS bin, n::BIGINT AS count,
                round(woe, 6) AS woe,
                (CASE WHEN woe < b0 THEN n ELSE 0 END)::BIGINT
                  AS n_pred_event,
                (CASE WHEN woe < b0 THEN e ELSE ne END)::BIGINT
                  AS n_correct,
                -1.0 AS coef, round(b0, 4) AS intercept
         FROM w ORDER BY bin""",

    "q_scorecard" ->
      // saturated single-variable WoE logistic fit: MLE is coef = -1,
      // intercept = ln(te/tne); points = (woe - b0)*factor + offset with
      // factor = pdo/ln 2, offset = 600 - factor*ln(odds). The oracle
      // recomputes binning -> WoE -> points -> score without any solver.
      """WITH b AS (
           SELECT CASE WHEN l_extendedprice < 25000 THEN 0
                       WHEN l_extendedprice < 50000 THEN 1
                       WHEN l_extendedprice < 75000 THEN 2
                       ELSE 3 END AS bin,
                  CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS y
           FROM lineitem),
         agg AS (
           SELECT bin, count(*) AS n, sum(y) AS e, count(*) - sum(y) AS ne
           FROM b GROUP BY 1),
         tot AS (SELECT sum(e)::DOUBLE te, sum(ne)::DOUBLE tne FROM agg),
         w AS (
           SELECT bin, n, ln((ne / tne) / (e / te)) AS woe,
                  ln(te / tne) AS b0
           FROM agg, tot),
         pts AS (
           SELECT bin, n, woe, b0,
                  (woe - b0) * (20.0 / ln(2))
                    + (600.0 - (20.0 / ln(2)) * ln(50.0)) AS points
           FROM w),
         st AS (
           SELECT round(sum(n * points) / sum(n), 2) AS avg_score,
                  round(min(points), 4) AS min_score,
                  round(max(points), 4) AS max_score
           FROM pts)
         SELECT bin::BIGINT AS bin, n::BIGINT AS count,
                round(woe, 6) AS woe, round(points, 4) AS points,
                -1.0 AS coef, round(b0, 6) AS intercept,
                avg_score, min_score, max_score
         FROM pts, st ORDER BY bin""",

    "q_scorecard_weighted" ->
      // weighted saturated WoE logistic: identical closed form to
      // q_scorecard but every count is sum(weight) — WoE, totals,
      // intercept and the mean score are all weight-carrying
      """WITH b AS (
           SELECT CASE WHEN l_extendedprice < 25000 THEN 0
                       WHEN l_extendedprice < 50000 THEN 1
                       WHEN l_extendedprice < 75000 THEN 2
                       ELSE 3 END AS bin,
                  CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS y,
                  l_linenumber::DOUBLE AS w
           FROM lineitem),
         agg AS (
           SELECT bin, sum(w) AS n, sum(w * y) AS e,
                  sum(w) - sum(w * y) AS ne
           FROM b GROUP BY 1),
         tot AS (SELECT sum(e)::DOUBLE te, sum(ne)::DOUBLE tne FROM agg),
         wo AS (
           SELECT bin, n, ln((ne / tne) / (e / te)) AS woe,
                  ln(te / tne) AS b0
           FROM agg, tot),
         pts AS (
           SELECT bin, n, woe, b0,
                  (woe - b0) * (20.0 / ln(2))
                    + (600.0 - (20.0 / ln(2)) * ln(50.0)) AS points
           FROM wo),
         st AS (
           SELECT round(sum(n * points) / sum(n), 2) AS avg_score,
                  round(min(points), 4) AS min_score,
                  round(max(points), 4) AS max_score
           FROM pts)
         SELECT bin::BIGINT AS bin, n::BIGINT AS count,
                round(woe, 6) AS woe, round(points, 4) AS points,
                -1.0 AS coef, round(b0, 6) AS intercept,
                avg_score, min_score, max_score
         FROM pts, st ORDER BY bin""",

    // invariant oracles for the solver-driven fits: the solved splits
    // (deterministic at the driver's sf0.01 verify) are inlined as
    // literals, and the per-bin counts are recomputed exactly — a hash
    // match proves the solver reproduced the pinned splits AND the
    // engine's aggregation at them is exact
    // de-pinned (r9): user-split literals are query constants
    "q_multiclass_fit" ->
      """SELECT CASE WHEN o_totalprice < 100000 THEN 0
                     WHEN o_totalprice < 200000 THEN 1
                     WHEN o_totalprice < 300000 THEN 2
                     ELSE 3 END::BIGINT AS bin,
                count(*)::BIGINT AS count,
                sum(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0
                    END)::BIGINT AS n_f,
                sum(CASE WHEN o_orderstatus = 'P' THEN 1 ELSE 0
                    END)::BIGINT AS n_p,
                sum(CASE WHEN o_orderstatus = 'O' THEN 1 ELSE 0
                    END)::BIGINT AS n_o,
                '100000.0,200000.0,300000.0' AS splits
         FROM orders GROUP BY 1 ORDER BY 1""",

    // deployed-cuts verification replay — valid at ANY SF (the cuts
    // are constants; tallies, entropies and gain come from data)
    "q_mdlp_deploy" ->
      """WITH b AS (
           SELECT CASE WHEN l_extendedprice < 40807.044601 THEN 0
                       WHEN l_extendedprice < 41192.200023 THEN 1
                       WHEN l_extendedprice < 42139.474169 THEN 2
                       WHEN l_extendedprice < 43305.350041 THEN 3
                       WHEN l_extendedprice < 43950.745613 THEN 4
                       ELSE 5 END AS bin,
                  CASE WHEN l_extendedprice * (1.0 - l_discount) >= 40000
                       THEN 1 ELSE 0 END AS y
           FROM lineitem),
         g AS (
           SELECT bin, count(*)::BIGINT AS n, sum(y)::BIGINT AS event,
                  (count(*) - sum(y))::BIGINT AS nonevent
           FROM b GROUP BY 1),
         e AS (
           SELECT *,
                  (CASE WHEN event >= 1
                    THEN -(event::DOUBLE / n) * ln(event::DOUBLE / n)
                    ELSE 0.0 END
                   + CASE WHEN nonevent >= 1
                    THEN -(nonevent::DOUBLE / n)
                          * ln(nonevent::DOUBLE / n)
                    ELSE 0.0 END) AS ent
           FROM g),
         t AS (
           SELECT sum(n)::BIGINT AS tn, sum(event)::BIGINT AS tev,
                  sum(ent * n::DOUBLE) AS wsum
           FROM e),
         r AS (
           SELECT tn, tev, wsum,
                  (CASE WHEN tev >= 1
                    THEN -(tev::DOUBLE / tn) * ln(tev::DOUBLE / tn)
                    ELSE 0.0 END
                   + CASE WHEN tn - tev >= 1
                    THEN -((tn - tev)::DOUBLE / tn)
                          * ln((tn - tev)::DOUBLE / tn)
                    ELSE 0.0 END) AS rent
           FROM t)
         SELECT bin::BIGINT AS bin, n, event, nonevent,
                round(event::DOUBLE / n, 6) AS rate6,
                round(ent, 6) AS entropy6,
                round(rent, 6) AS root_entropy6,
                round(rent - wsum / tn::DOUBLE, 6) AS gain6
         FROM e, r ORDER BY bin""",

    "q_mdlp_splits" ->
      // pins reflect the reference's max_candidates=32 boundary
      // subsample (`mdlp.py:134-136`)
      """WITH b AS (
           SELECT CASE WHEN l_extendedprice < 40807.044601 THEN 0
                       WHEN l_extendedprice < 41192.200023 THEN 1
                       WHEN l_extendedprice < 42139.474169 THEN 2
                       WHEN l_extendedprice < 43305.350041 THEN 3
                       WHEN l_extendedprice < 43950.745613 THEN 4
                       ELSE 5 END AS bin,
                  CASE WHEN l_extendedprice * (1.0 - l_discount) >= 40000
                       THEN 1 ELSE 0 END AS y
           FROM lineitem)
         SELECT bin::BIGINT AS bin, count(*)::BIGINT AS count,
                sum(y)::BIGINT AS event,
                '40807.044601,41192.200023,42139.474169,43305.350041,43950.745613'
                  AS splits
         FROM b GROUP BY 1 ORDER BY 1""",

    "q_stream_sessions" ->
      // closed sessions = every session below its user's last, plus
      // last sessions with end + gap strictly below the final
      // watermark (max ts - 600s); gap 3600s, all-integer aggregates
      """WITH e AS (
           SELECT user_id, epoch_ms(ts) AS ms FROM events),
         g AS (
           SELECT user_id, ms,
                  CASE WHEN lag(ms) OVER (PARTITION BY user_id
                         ORDER BY ms) IS NULL
                       OR ms - lag(ms) OVER (PARTITION BY user_id
                         ORDER BY ms) > 3600000
                       THEN 1 ELSE 0 END AS brk
           FROM e),
         s AS (
           SELECT user_id, ms,
                  sum(brk) OVER (PARTITION BY user_id ORDER BY ms
                    ROWS UNBOUNDED PRECEDING) AS sid
           FROM g),
         a AS (
           SELECT user_id, sid, min(ms) AS smin, max(ms) AS smax,
                  count(*) AS n
           FROM s GROUP BY 1, 2),
         w AS (SELECT max(ms) - 600000 AS wm FROM e),
         closed AS (
           SELECT a.* FROM a, w
           WHERE a.sid < (SELECT max(sid) FROM a a2
                          WHERE a2.user_id = a.user_id)
              OR a.smax + 3600000 < w.wm)
         SELECT count(*)::BIGINT AS n_sessions,
                sum(n)::BIGINT AS n_events,
                sum(smax - smin)::BIGINT AS span_ms_total,
                sum(user_id * n)::BIGINT AS id_weighted
         FROM closed""",

    "q_stream_binning" ->
      // de-pinned (r9): fixed user splits are query constants; n_seen
      // proves the 3-trigger replay delivered every row exactly once
      """WITH e AS (
           SELECT value, (user_id % 2)::DOUBLE AS y FROM events),
         b AS (
           SELECT CASE WHEN value < 40 THEN 0
                       WHEN value < 80 THEN 1
                       WHEN value < 120 THEN 2
                       ELSE 3 END AS bin, y
           FROM e)
         SELECT bin::BIGINT AS bin, count(*)::BIGINT AS count,
                sum(y)::BIGINT AS event,
                '40.0,80.0,120.0' AS splits,
                (SELECT count(*) FROM e)::BIGINT AS n_seen
         FROM b GROUP BY 1 ORDER BY 1""",

    // streaming curation monitor replay: dedup survivors == global
    // distinct rolling fingerprints (the watermark delay spans the
    // whole synthetic ts range, so no state evicts), drift-monitor
    // bins == token-count CASE chain over expected (doc_id%3==0) and
    // actual (everything) cohorts — integer-only surface
    "q_stream_curation" ->
      """WITH f AS (
           SELECT doc_id,
                  list_reduce(
                    list_prepend(0::BIGINT,
                      [unicode(c)::BIGINT FOR c IN regexp_extract_all(
                         regexp_replace(lower(trim(text)), '\s+', ' ',
                                        'g'),
                         '(?s).')]),
                    (a, b) -> (a * 131 + b) % 1000000007) AS fp,
                  CASE WHEN length(trim(text)) = 0 THEN 0
                       ELSE length(regexp_split_to_array(trim(text),
                                                         '\s+'))
                  END AS tk
           FROM documents WHERE text IS NOT NULL),
         b AS (
           SELECT doc_id, fp,
                  CASE WHEN tk < 32 THEN 0 WHEN tk < 64 THEN 1
                       WHEN tk < 96 THEN 2 ELSE 3 END AS bin
           FROM f),
         s AS (
           SELECT count(DISTINCT fp) AS n_survivors,
                  COALESCE(sum(DISTINCT fp), 0)::BIGINT AS fp_checksum,
                  count(*) AS n_raw
           FROM b)
         SELECT t.bin::INT AS bin,
                COALESCE(e.n, 0)::BIGINT AS expected_n,
                COALESCE(a.n, 0)::BIGINT AS actual_n,
                s.n_survivors, s.fp_checksum, s.n_raw
         FROM range(0, 4) t(bin)
         LEFT JOIN (SELECT bin, count(*) AS n FROM b
                    WHERE doc_id % 3 = 0 GROUP BY 1) e ON t.bin = e.bin
         LEFT JOIN (SELECT bin, count(*) AS n FROM b GROUP BY 1) a
           ON t.bin = a.bin
         CROSS JOIN s
         ORDER BY 1""",

    // append-mode window-agg replay: per-day epoch-aligned windows,
    // emitted iff window end <= final watermark = max(ts) - 1h
    // (emission at watermark == end inclusive; the boundary here sits
    // ~1h from any whole-day window end, so the sub-ms truncation in
    // Spark's watermark arithmetic cannot flip a window)
    "q_stream_windows" ->
      """WITH w AS (
           SELECT (epoch_us(ts) // 86400000000) * 86400 AS ws,
                  event_type,
                  CAST(floor(value * 1000000.0) AS BIGINT) AS vq
           FROM events),
         wm AS (
           SELECT epoch_us(max(ts)) - 3600000000 AS wus FROM events)
         SELECT ws AS window_start, event_type,
                count(*) AS n_events, sum(vq)::BIGINT AS value_q_sum
         FROM w, wm
         WHERE (ws + 86400) * 1000000 <= wm.wus
         GROUP BY 1, 2 ORDER BY 1, 2""",

    // de-pinned (r9): user-split literals are query constants; the
    // sketch contributes two SF-independent invariants (exact record
    // count, per-bin estimate within the 2*eps*n GK bound) the oracle
    // states as n_sketch = count(*) and eps_ok = 1
    "q_sketch_binning" ->
      """WITH b AS (
           SELECT CASE WHEN l_extendedprice < 25000 THEN 0
                       WHEN l_extendedprice < 50000 THEN 1
                       WHEN l_extendedprice < 75000 THEN 2
                       ELSE 3 END AS bin,
                  CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS y
           FROM lineitem),
         t AS (SELECT count(*)::BIGINT AS n FROM b)
         SELECT bin::BIGINT AS bin, count(*)::BIGINT AS count,
                sum(y)::BIGINT AS event,
                '25000.0,50000.0,75000.0' AS splits,
                (SELECT n FROM t) AS n_sketch,
                1::BIGINT AS eps_ok
         FROM b GROUP BY 1 ORDER BY 1""",

    // t-digest variant: same SF-independent invariants (exact record
    // count, per-bin estimate within the documented 2.5%-of-n audit
    // tolerance — measured < 1% at both SFs)
    "q_sketch_tdigest" ->
      """WITH b AS (
           SELECT CASE WHEN l_extendedprice < 25000 THEN 0
                       WHEN l_extendedprice < 50000 THEN 1
                       WHEN l_extendedprice < 75000 THEN 2
                       ELSE 3 END AS bin,
                  CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS y
           FROM lineitem),
         t AS (SELECT count(*)::BIGINT AS n FROM b)
         SELECT bin::BIGINT AS bin, count(*)::BIGINT AS count,
                sum(y)::BIGINT AS event,
                '25000.0,50000.0,75000.0' AS splits,
                (SELECT n FROM t) AS n_sketch,
                1::BIGINT AS tol_ok
         FROM b GROUP BY 1 ORDER BY 1""",

    // de-pinned (r9): user-split literals are CONSTANTS of the query —
    // no grid-compression replay needed (the user-splits fit aggregates
    // raw bin membership exactly), valid at every SF
    "q_process_summary" ->
      """WITH li AS (
           SELECT *, CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS y
           FROM lineitem),
         bins AS (
           SELECT 'l_extendedprice' AS variable,
                  CASE WHEN l_extendedprice < 25000 THEN 0
                       WHEN l_extendedprice < 50000 THEN 1
                       WHEN l_extendedprice < 75000 THEN 2
                       ELSE 3 END AS bin, y
           FROM li
           UNION ALL
           SELECT 'l_quantity',
                  CASE WHEN l_quantity < 10 THEN 0
                       WHEN l_quantity < 25 THEN 1
                       WHEN l_quantity < 40 THEN 2
                       ELSE 3 END, y FROM li
           UNION ALL
           SELECT 'l_discount',
                  CASE WHEN l_discount < 0.025 THEN 0
                       WHEN l_discount < 0.055 THEN 1
                       WHEN l_discount < 0.085 THEN 2
                       ELSE 3 END, y FROM li
           UNION ALL
           SELECT 'l_tax',
                  CASE WHEN l_tax < 0.025 THEN 0
                       WHEN l_tax < 0.045 THEN 1
                       WHEN l_tax < 0.065 THEN 2
                       ELSE 3 END, y FROM li),
         agg AS (
           SELECT variable, bin, sum(y)::DOUBLE AS e,
                  (count(*) - sum(y))::DOUBLE AS ne
           FROM bins GROUP BY 1, 2),
         tot AS (
           SELECT variable, sum(e) AS te, sum(ne) AS tne
           FROM agg GROUP BY 1),
         iv AS (
           SELECT agg.variable, count(*)::BIGINT AS n_bins,
                  round(sum((ne / tne - e / te)
                            * ln((ne / tne) / (e / te))), 6) AS iv
           FROM agg JOIN tot ON agg.variable = tot.variable
           GROUP BY 1)
         SELECT variable, n_bins, iv,
                CASE variable
                  WHEN 'l_extendedprice' THEN '25000.0,50000.0,75000.0'
                  WHEN 'l_quantity' THEN '10.0,25.0,40.0'
                  WHEN 'l_discount' THEN '0.025,0.055,0.085'
                  ELSE '0.025,0.045,0.065' END AS splits
         FROM iv ORDER BY variable""",

    "q_scorecard_cont" ->
      // the mean-transformed feature is piecewise-constant, so the WLS
      // fit is a simple regression of y on the bin-mean feature
      """WITH b AS (
           SELECT CASE WHEN l_quantity < 10 THEN 0
                       WHEN l_quantity < 25 THEN 1
                       WHEN l_quantity < 40 THEN 2
                       ELSE 3 END AS bin,
                  l_extendedprice::DOUBLE AS y
           FROM lineitem),
         m AS (SELECT bin, avg(y) AS f FROM b GROUP BY 1),
         j AS (SELECT b.y, m.f FROM b JOIN m USING (bin)),
         r AS (SELECT regr_slope(y, f) AS c, regr_intercept(y, f) AS i
               FROM j)
         SELECT m.bin::BIGINT AS bin, round(m.f * r.c, 4) AS points,
                round(r.c, 6) AS coef, round(r.i, 2) + 0.0 AS intercept
         FROM m, r ORDER BY bin""",

    // pinned counterfactual: WoEs re-derived from data at the pinned
    // user splits; solved coefficients/intercept and the found
    // counterfactual's bins inlined as literals
    // deployed-constants verification replay — valid at ANY SF (the
    // model/cf/target are constants; only WoEs come from data)
    "q_cf_verify" ->
      """WITH b AS (
           SELECT CASE WHEN l_extendedprice < 25000 THEN 0
                       WHEN l_extendedprice < 50000 THEN 1
                       WHEN l_extendedprice < 75000 THEN 2
                       ELSE 3 END AS bep,
                  CASE WHEN l_quantity < 10 THEN 0
                       WHEN l_quantity < 25 THEN 1
                       WHEN l_quantity < 40 THEN 2
                       ELSE 3 END AS bq,
                  CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS y
           FROM lineitem),
         tot AS (SELECT sum(y)::DOUBLE te,
                        (count(*) - sum(y))::DOUBLE tne FROM b),
         wep AS (
           SELECT bep AS bin,
                  ln(((count(*) - sum(y)) / tne) / (sum(y) / te)) AS woe
           FROM b, tot GROUP BY bep, te, tne),
         wq AS (
           SELECT bq AS bin,
                  ln(((count(*) - sum(y)) / tne) / (sum(y) / te)) AS woe
           FROM b, tot GROUP BY bq, te, tne),
         w AS (
           SELECT (SELECT woe FROM wep WHERE bin = 3) AS w_ep3,
                  (SELECT woe FROM wep WHERE bin = 0) AS w_ep0,
                  (SELECT woe FROM wq WHERE bin = 0) AS w_q0),
         p AS (
           SELECT w_ep3, w_q0,
                  1 / (1 + exp(-((-0.99899178) * w_ep3
                               + (-0.99585545) * w_q0
                               + (-0.68969916)))) AS p_cf,
                  1 / (1 + exp(-((-0.99899178) * w_ep0
                               + (-0.99585545) * w_q0
                               + (-0.68969916)))) AS p_base
           FROM w)
         SELECT '0,0' AS base_bins, '3,0' AS cf_bins,
                1::BIGINT AS n_changes, 3::BIGINT AS dist_bins,
                round(w_ep3, 6) AS woe_cf_price6,
                round(w_q0, 6) AS woe_cf_qty6,
                round(p_base, 6) AS proba_base6,
                round(p_cf, 6) AS proba_cf6,
                round(p_cf - p_base, 6) AS delta_proba6,
                round(p_cf - 0.33759203, 6) AS margin6,
                CASE WHEN p_cf >= 0.33759203 THEN 1 ELSE 0
                  END::BIGINT AS crosses_target
         FROM p""",

    "q_counterfactual" ->
      """WITH b AS (
           SELECT CASE WHEN l_extendedprice < 25000 THEN 0
                       WHEN l_extendedprice < 50000 THEN 1
                       WHEN l_extendedprice < 75000 THEN 2
                       ELSE 3 END AS bep,
                  CASE WHEN l_quantity < 10 THEN 0
                       WHEN l_quantity < 25 THEN 1
                       WHEN l_quantity < 40 THEN 2
                       ELSE 3 END AS bq,
                  CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS y
           FROM lineitem),
         tot AS (SELECT sum(y)::DOUBLE te,
                        (count(*) - sum(y))::DOUBLE tne FROM b),
         wep AS (
           SELECT bep AS bin,
                  ln(((count(*) - sum(y)) / tne) / (sum(y) / te)) AS woe
           FROM b, tot GROUP BY bep, te, tne),
         wq AS (
           SELECT bq AS bin,
                  ln(((count(*) - sum(y)) / tne) / (sum(y) / te)) AS woe
           FROM b, tot GROUP BY bq, te, tne)
         SELECT 1::BIGINT AS n_changes,
                round(1 / (1 + exp(-(
                  (-0.99899178)
                    * (SELECT woe FROM wep WHERE bin = 3)
                  + (-0.99585545)
                    * (SELECT woe FROM wq WHERE bin = 0)
                  + (-0.68969916)))), 6) AS probability,
                '3,0' AS cf_bins,
                '-0.99899178,-0.99585545' AS coefs,
                '-0.68969916' AS intercept,
                '0.33759203' AS target""",

    // stability report, de-pinned (r9): WoEs from data at pinned USER
    // splits; the saturated single-variable scorecard's closed form
    // (coef = -1, intercept = ln(te/tne)) and UNIFORM score-bin splits
    // from the expected cohort's score min/max — PSI, z-test
    // significance counts, and per-cohort Gini replayed end-to-end
    // with no solver literals, valid at every SF
    // continuous monitoring replay, de-pinned (r9): pinned USER
    // variable splits -> exact AVG bin means (the saturated model's
    // scores) -> UNIFORM score-bin splits recomputed from the expected
    // cohort's score min/max (np.digitize right=True: bin = #splits
    // strictly below) -> per-bin counts, PSI and 4dp cohort means.
    // Valid at every SF — no solver literals.
    "q_stability_cont" ->
      """WITH b AS (
           SELECT l_orderkey % 2 AS c, l_extendedprice AS y,
                  CASE WHEN l_quantity < 10 THEN 0
                       WHEN l_quantity < 25 THEN 1
                       WHEN l_quantity < 40 THEN 2 ELSE 3 END AS bq
           FROM lineitem),
         m AS (SELECT bq, avg(y) AS mq FROM b GROUP BY 1),
         scored AS (
           SELECT b.c, b.y, 1.0 * m.mq AS score
           FROM b JOIN m USING (bq)),
         lohi AS (
           SELECT min(score) AS lo, max(score) AS hi
           FROM scored WHERE c = 0),
         sb AS (
           SELECT c, y,
                  CASE WHEN score > lo + (hi - lo) * 1.0 / 10.0 THEN 1 ELSE 0 END
                + CASE WHEN score > lo + (hi - lo) * 2.0 / 10.0 THEN 1 ELSE 0 END
                + CASE WHEN score > lo + (hi - lo) * 3.0 / 10.0 THEN 1 ELSE 0 END
                + CASE WHEN score > lo + (hi - lo) * 4.0 / 10.0 THEN 1 ELSE 0 END
                + CASE WHEN score > lo + (hi - lo) * 5.0 / 10.0 THEN 1 ELSE 0 END
                + CASE WHEN score > lo + (hi - lo) * 6.0 / 10.0 THEN 1 ELSE 0 END
                + CASE WHEN score > lo + (hi - lo) * 7.0 / 10.0 THEN 1 ELSE 0 END
                + CASE WHEN score > lo + (hi - lo) * 8.0 / 10.0 THEN 1 ELSE 0 END
                + CASE WHEN score > lo + (hi - lo) * 9.0 / 10.0 THEN 1 ELSE 0 END
                  AS bin
           FROM scored, lohi),
         bins AS (
           SELECT bin,
                  sum(CASE WHEN c = 0 THEN 1 ELSE 0 END)::DOUBLE ce,
                  sum(CASE WHEN c = 1 THEN 1 ELSE 0 END)::DOUBLE ca,
                  sum(CASE WHEN c = 0 THEN y END) se,
                  sum(CASE WHEN c = 1 THEN y END) sa
           FROM sb GROUP BY 1),
         bt AS (SELECT sum(ce) tce, sum(ca) tca FROM bins)
         SELECT bin::BIGINT AS bin, ce::BIGINT AS count_e,
                ca::BIGINT AS count_a,
                round(CASE WHEN ce > 0 AND ca > 0
                      THEN (ca/tca - ce/tce) * ln((ca/tca)/(ce/tce))
                      ELSE 0 END, 6) AS psi,
                round(se/ce, 4) AS ymean_e, round(sa/ca, 4) AS ymean_a
         FROM bins, bt ORDER BY bin""",

    "q_stability_report" ->
      """WITH b AS (
           SELECT l_orderkey % 2 AS c,
                  CASE WHEN l_extendedprice < 25000 THEN 0
                       WHEN l_extendedprice < 50000 THEN 1
                       WHEN l_extendedprice < 75000 THEN 2
                       ELSE 3 END AS bep,
                  CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS y
           FROM lineitem),
         tot AS (SELECT sum(y)::DOUBLE te,
                        (count(*) - sum(y))::DOUBLE tne FROM b),
         wep AS (
           SELECT bep AS bin,
                  ln(((count(*) - sum(y)) / tne) / (sum(y) / te)) AS woe
           FROM b, tot GROUP BY bep, te, tne),
         scored AS (
           SELECT b.c, b.y,
                  -wep.woe AS score,
                  1 / (1 + exp(-(-wep.woe + ln(te / tne)))) AS p
           FROM b JOIN wep ON b.bep = wep.bin CROSS JOIN tot),
         lohi AS (
           SELECT min(score) AS lo, max(score) AS hi
           FROM scored WHERE c = 0),
         sb AS (
           SELECT c, y, p,
                  CASE WHEN score >= lo + (hi - lo) * 1.0 / 10.0 THEN 1 ELSE 0 END
                + CASE WHEN score >= lo + (hi - lo) * 2.0 / 10.0 THEN 1 ELSE 0 END
                + CASE WHEN score >= lo + (hi - lo) * 3.0 / 10.0 THEN 1 ELSE 0 END
                + CASE WHEN score >= lo + (hi - lo) * 4.0 / 10.0 THEN 1 ELSE 0 END
                + CASE WHEN score >= lo + (hi - lo) * 5.0 / 10.0 THEN 1 ELSE 0 END
                + CASE WHEN score >= lo + (hi - lo) * 6.0 / 10.0 THEN 1 ELSE 0 END
                + CASE WHEN score >= lo + (hi - lo) * 7.0 / 10.0 THEN 1 ELSE 0 END
                + CASE WHEN score >= lo + (hi - lo) * 8.0 / 10.0 THEN 1 ELSE 0 END
                + CASE WHEN score >= lo + (hi - lo) * 9.0 / 10.0 THEN 1 ELSE 0 END
                    AS bin
           FROM scored, lohi),
         bins AS (
           SELECT bin,
                  sum(CASE WHEN c = 0 THEN 1 ELSE 0 END)::DOUBLE ce,
                  sum(CASE WHEN c = 0 THEN y ELSE 0 END)::DOUBLE ee,
                  sum(CASE WHEN c = 1 THEN 1 ELSE 0 END)::DOUBLE ca,
                  sum(CASE WHEN c = 1 THEN y ELSE 0 END)::DOUBLE ea
           FROM sb GROUP BY 1),
         bt AS (SELECT sum(ce) tce, sum(ca) tca FROM bins),
         ps AS (
           SELECT round(sum(CASE WHEN ce > 0 AND ca > 0
                            THEN (ca/tca - ce/tce) * ln((ca/tca)/(ce/tce))
                            ELSE 0 END), 6) AS psi,
                  count(*)::BIGINT AS n_bins,
                  sum(CASE WHEN ce > 0 AND ca > 0
                           AND (ee + ea) > 0
                           AND (ce - ee + ca - ea) > 0
                           AND abs((ee/ce - ea/ca)
                               / sqrt(((ee+ea)/(ce+ca))
                                      * (1 - (ee+ea)/(ce+ca))
                                      * (1/ce + 1/ca)))
                             > 1.9599639845400545
                           THEN 1 ELSE 0 END)::BIGINT AS n_significant
           FROM bins, bt),
         gp AS (SELECT c, p, sum(y)::DOUBLE ev,
                       (count(*) - sum(y))::DOUBLE ne
                FROM sb GROUP BY c, p),
         gw AS (
           SELECT c, p, ev, ne,
                  coalesce(sum(ne) OVER (PARTITION BY c ORDER BY p
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                    0) AS cum_ne
           FROM gp),
         gt AS (SELECT c, sum(ev) tev, sum(ne) tne2 FROM gp GROUP BY c),
         g AS (
           SELECT gw.c,
                  round(2.0 * sum(ev * (cum_ne + ne/2))
                        / (max(tev) * max(tne2)) - 1.0, 6) AS gini
           FROM gw JOIN gt ON gw.c = gt.c GROUP BY gw.c)
         SELECT ps.psi AS psi,
                CASE WHEN ps.psi < 0.1 THEN 'Insignificant change'
                     WHEN ps.psi < 0.25 THEN 'Requires investigation'
                     ELSE 'Significance change' END AS verdict,
                ps.n_bins, ps.n_significant,
                (SELECT gini FROM g WHERE c = 0) AS gini_expected,
                (SELECT gini FROM g WHERE c = 1) AS gini_actual
         FROM ps""",

    // pinned categorical sketch solve: the solved category->bin
    // grouping replayed as an IN-list CASE
    // de-pinned (r9): pinned user category groups; the event-rate bin
    // ordering replays as one window over exact integer counts
    "q_cat_sketch" ->
      """WITH b AS (
           SELECT CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                         THEN 0
                       WHEN o_orderpriority = '3-MEDIUM' THEN 1
                       ELSE 2 END AS g,
                  CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END AS y
           FROM orders),
         gs AS (SELECT g, count(*) AS n, sum(y) AS e FROM b GROUP BY 1),
         r AS (
           SELECT g, n, e,
                  row_number() OVER (
                    ORDER BY e::DOUBLE / n::DOUBLE, g) - 1 AS bin
           FROM gs)
         SELECT bin::BIGINT AS bin,
                CASE g WHEN 0 THEN '1-URGENT|2-HIGH'
                       WHEN 1 THEN '3-MEDIUM'
                       ELSE '4-NOT SPECIFIED|5-LOW' END AS cats,
                n::BIGINT AS count, e::BIGINT AS event
         FROM r ORDER BY bin""",

    // de-pinned (r9): med/MAD are exact lower weighted medians of the
    // 10k-grid-snapped histogram, re-derived in SQL (same snap
    // arithmetic and the 2*cum >= n rule); splits = '' is the gamma
    // penalty's one-bin collapse, an invariant at every SF
    "q_gamma_outlier_fit" ->
      """WITH mm AS (
           SELECT min(l_extendedprice) AS mn,
                  (max(l_extendedprice) - min(l_extendedprice)) / 10000
                    AS w,
                  count(*) AS tot
           FROM lineitem),
         s AS (
           SELECT mn + floor((l_extendedprice - mn) / w) * w AS v
           FROM lineitem, mm),
         h AS (SELECT v, count(*) AS n FROM s GROUP BY 1),
         c AS (SELECT v, sum(n) OVER (ORDER BY v) AS cum FROM h),
         med AS (SELECT min(v) AS med FROM c, mm
                 WHERE 2 * cum >= tot),
         s2 AS (SELECT abs(v - med) AS v FROM s, med),
         h2 AS (SELECT v, count(*) AS n FROM s2 GROUP BY 1),
         c2 AS (SELECT v, sum(n) OVER (ORDER BY v) AS cum FROM h2),
         mad AS (SELECT min(v) AS mad FROM c2, mm
                 WHERE 2 * cum >= tot)
         SELECT 0::BIGINT AS bin, count(*)::BIGINT AS count,
                sum(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0
                    END)::BIGINT AS event,
                max(med) AS med, max(mad) AS mad,
                '' AS splits
         FROM lineitem, med, mad
         WHERE NOT (abs(0.6745 * (l_extendedprice - med) / mad)
                    > 3.5)""",

    // de-pinned (r9): user-split literals are query constants
    "q_scenario_fit" ->
      """WITH b AS (
           SELECT CASE WHEN l_extendedprice < 25000 THEN 0
                       WHEN l_extendedprice < 50000 THEN 1
                       WHEN l_extendedprice < 75000 THEN 2
                       ELSE 3 END AS bin,
                  CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS y,
                  CASE WHEN l_linenumber <= 3 THEN 1 ELSE 0 END AS s1
           FROM lineitem)
         SELECT bin::BIGINT AS bin, sum(s1)::BIGINT AS n1,
                sum(s1 * y)::BIGINT AS e1,
                sum(1 - s1)::BIGINT AS n2,
                sum((1 - s1) * y)::BIGINT AS e2,
                '25000.0,50000.0,75000.0' AS splits
         FROM b GROUP BY 1 ORDER BY 1""",

    // de-pinned (r9): user-split literals are CONSTANTS of the query,
    // not sf0.01 solver output — the oracle is valid at every SF
    "q_cont_process" ->
      """WITH bins AS (
           SELECT 'l_quantity' AS variable,
                  CASE WHEN l_quantity < 10 THEN 0
                       WHEN l_quantity < 25 THEN 1
                       WHEN l_quantity < 40 THEN 2
                       ELSE 3 END AS bin,
                  l_extendedprice AS t, '10.0,25.0,40.0' AS splits
           FROM lineitem
           UNION ALL
           SELECT 'l_discount',
                  CASE WHEN l_discount < 0.025 THEN 0
                       WHEN l_discount < 0.055 THEN 1
                       WHEN l_discount < 0.085 THEN 2
                       ELSE 3 END,
                  l_extendedprice, '0.025,0.055,0.085'
           FROM lineitem)
         SELECT variable, bin::BIGINT AS bin, count(*)::BIGINT AS count,
                round(avg(t), 4) AS mean, splits
         FROM bins GROUP BY variable, bin, splits
         ORDER BY variable, bin""",

    // DE-PINNED piecewise oracles (r10): the l2 solve itself replays
    // in SQL — exact HUGEINT moment sums, then graft.core.ExactFit's
    // shared expression IR rendered as lateral-aliased columns, giving
    // the SAME bit-identical coefficients the engine computed. Valid
    // at ANY SF; no solver literals anywhere.
    "q_pw_transform" -> {
      import graft.core.ExactFit
      val ySql = "CASE WHEN l_returnflag = 'R' THEN 1.0 ELSE 0.0 END"
      s"""WITH ${ExactFit.coefCtes(pwRateSpec, "lineitem",
                                   "l_extendedprice", ySql,
                                   pwWherePrice)},
         p AS (
           SELECT least(greatest(
                    ${ExactFit.predictSql(pwRateSpec,
                                          "l_extendedprice")},
                    0.000001), 0.999999) AS pred
           FROM lineitem, kf$pwWherePrice),
         ag AS (
           SELECT count(*)::BIGINT AS n,
                  round(min(pred), 6) AS min_pred,
                  round(max(pred), 6) AS max_pred
           FROM p)
         SELECT ag.n, round(kf.w_avg, 6) AS avg_pred, ag.min_pred,
                ag.max_pred, round(kf.w_a, 6) AS c0,
                round(kf.w_v1, 6) AS v1, round(kf.w_v2, 6) AS v2,
                round(kf.w_v3, 6) AS v3
         FROM ag, kf"""
    },

    "q_cont_pw" -> {
      import graft.core.ExactFit
      s"""WITH ${ExactFit.coefCtes(pwContSpec, "lineitem",
                                   "l_quantity", "l_extendedprice",
                                   pwWhereQty)}
         SELECT m.n::BIGINT AS n,
                round(kf.w_avg, 4) AS avg_pred,
                round(kf.w_avgy, 4) AS avg_actual,
                round(kf.w_v1, 4) AS v1, round(kf.w_v2, 4) AS v2,
                round((kf.w_s0 * 10.0) / 100.0, 6) AS slope0,
                round((kf.w_s1 * 10.0) / 100.0, 6) AS slope1,
                round((kf.w_s2 * 10.0) / 100.0, 6) AS slope2
         FROM kf, m"""
    },

    "q_pw_weighted" -> {
      import graft.core.ExactFit
      s"""WITH ${ExactFit.coefCtesWeighted(pwMonoSpec,
           "lineitem JOIN orders ON l_orderkey = o_orderkey",
           "l_quantity", "l_extendedprice",
           "CASE WHEN o_orderpriority = '1-URGENT' THEN 3 " +
             "WHEN o_orderpriority = '2-HIGH' THEN 2 ELSE 1 END",
           pwWhereQty)}
         SELECT m.n::BIGINT AS w_total,
                kf.w_m::BIGINT AS active_mask,
                round(kf.w_avg, 4) AS avg_pred,
                round(kf.w_avgy, 4) AS avg_actual,
                round(kf.w_v1, 4) AS v1, round(kf.w_v2, 4) AS v2,
                round((kf.w_s0 * 10.0) / 100.0, 6) AS slope0,
                round((kf.w_s1 * 10.0) / 100.0, 6) AS slope1,
                round((kf.w_s2 * 10.0) / 100.0, 6) AS slope2
         FROM kf, m"""
    },

    "q_pw_monotone" -> {
      import graft.core.ExactFit
      s"""WITH ${ExactFit.coefCtes(pwMonoSpec, "lineitem",
                                   "l_quantity", "l_extendedprice",
                                   pwWhereQty)}
         SELECT (5 * g)::DOUBLE AS x,
                round(${ExactFit.predictSql(pwMonoSpec,
                                            "(5 * g)::DOUBLE")}, 6)
                  AS pred,
                kf.w_m::BIGINT AS active_mask,
                round((kf.w_s0 * 10.0) / 100.0, 6) AS slope0,
                round((kf.w_s1 * 10.0) / 100.0, 6) AS slope1,
                round((kf.w_s2 * 10.0) / 100.0, 6) AS slope2
         FROM range(1, 10) t(g), kf ORDER BY x"""
    },

    // pinned 2D fits: solved splits inlined as literals; the solved
    // layout is all singleton cells (IV is superadditive under
    // splitting, so the unconstrained optimum is the finest partition),
    // which the rect key concat replays — a merged layout would change
    // the expected keys and hash-fail
    "q_2d_deploy" -> deploy2dOracle,

    "q_stream_2d" -> deploy2dOracle,

    "q_2d_fit" ->
      """WITH b AS (
           SELECT CASE WHEN l_extendedprice < 6372.067953 THEN 0
                       WHEN l_extendedprice < 70599.33697300001 THEN 1
                       WHEN l_extendedprice < 79114.394681 THEN 2
                       WHEN l_extendedprice < 84392.06492300001 THEN 3
                       ELSE 4 END AS bx,
                  CASE WHEN l_quantity < 3.5 THEN 0
                       WHEN l_quantity < 7.5 THEN 1
                       WHEN l_quantity < 10.5 THEN 2
                       WHEN l_quantity < 15.5 THEN 3
                       ELSE 4 END AS by,
                  CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS y
           FROM lineitem),
         r AS (
           SELECT bx::VARCHAR || '-' || bx::VARCHAR || ':'
                    || by::VARCHAR || '-' || by::VARCHAR AS rect, y
           FROM b),
         agg AS (
           SELECT rect, count(*) AS n, sum(y) AS e,
                  count(*) - sum(y) AS ne
           FROM r GROUP BY 1),
         tot AS (SELECT sum(e)::DOUBLE te, sum(ne)::DOUBLE tne FROM agg)
         SELECT rect, n::BIGINT AS count, e::BIGINT AS event,
                round(CASE WHEN e > 0 AND ne > 0
                      THEN ln((ne / tne) / (e / te))
                      ELSE 0.0 END, 6) AS woe,
                '6372.067953,70599.33697300001,79114.394681,84392.06492300001'
                  AS splits_x,
                '3.5,7.5,10.5,15.5' AS splits_y
         FROM agg, tot ORDER BY rect""",

    "q_2d_cart" ->
      """WITH b AS (
           SELECT CASE WHEN l_extendedprice < 6372.067953 THEN 0
                       WHEN l_extendedprice < 70599.33697300001 THEN 1
                       WHEN l_extendedprice < 79114.394681 THEN 2
                       WHEN l_extendedprice < 84392.06492300001 THEN 3
                       ELSE 4 END AS bx,
                  CASE WHEN l_quantity < 3.5 THEN 0
                       WHEN l_quantity < 7.5 THEN 1
                       WHEN l_quantity < 10.5 THEN 2
                       WHEN l_quantity < 15.5 THEN 3
                       ELSE 4 END AS by,
                  CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS y
           FROM lineitem),
         r AS (
           SELECT bx::VARCHAR || '-' || bx::VARCHAR || ':'
                    || by::VARCHAR || '-' || by::VARCHAR AS rect, y
           FROM b),
         agg AS (
           SELECT rect, count(*) AS n, sum(y) AS e,
                  count(*) - sum(y) AS ne
           FROM r GROUP BY 1),
         tot AS (SELECT sum(e)::DOUBLE te, sum(ne)::DOUBLE tne FROM agg)
         SELECT rect, n::BIGINT AS count, e::BIGINT AS event,
                round(CASE WHEN e > 0 AND ne > 0
                      THEN ln((ne / tne) / (e / te))
                      ELSE 0.0 END, 6) AS woe,
                '6372.067953,70599.33697300001,79114.394681,84392.06492300001'
                  AS splits_x,
                '3.5,7.5,10.5,15.5' AS splits_y
         FROM agg, tot ORDER BY rect""",

    "q_cont_2d_fit" ->
      """WITH b AS (
           SELECT CASE WHEN l_quantity < 23.5 THEN 0
                       WHEN l_quantity < 44.5 THEN 1
                       WHEN l_quantity < 47.5 THEN 2
                       ELSE 3 END AS bx,
                  CASE WHEN l_discount < 0.015 THEN 0
                       WHEN l_discount < 0.055 THEN 1
                       WHEN l_discount < 0.065 THEN 2
                       ELSE 3 END AS by,
                  l_extendedprice AS t
           FROM lineitem),
         r AS (
           SELECT bx::VARCHAR || '-' || bx::VARCHAR || ':'
                    || by::VARCHAR || '-' || by::VARCHAR AS rect, t
           FROM b)
         SELECT rect, count(*)::BIGINT AS count,
                round(avg(t), 6) AS mean,
                '23.5,44.5,47.5' AS splits_x,
                '0.015,0.055,0.065' AS splits_y
         FROM r GROUP BY rect ORDER BY rect""",

    "q_2d_agg" ->
      """SELECT CASE WHEN l_extendedprice < 50000 THEN 0 ELSE 1 END AS bx,
                CASE WHEN l_quantity < 25 THEN 0 ELSE 1 END AS by,
                sum(CASE WHEN l_returnflag = 'R' THEN 0 ELSE 1 END)::BIGINT
                  AS nonevent,
                sum(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END)::BIGINT
                  AS event
         FROM lineitem GROUP BY 1, 2 ORDER BY 1, 2""",

    "q_multiclass_agg" ->
      """SELECT CASE WHEN o_totalprice < 100000 THEN 0
                     WHEN o_totalprice < 250000 THEN 1
                     ELSE 2 END AS bin,
                sum(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END)::BIGINT
                  AS n_f,
                sum(CASE WHEN o_orderstatus = 'P' THEN 1 ELSE 0 END)::BIGINT
                  AS n_p,
                sum(CASE WHEN o_orderstatus = 'O' THEN 1 ELSE 0 END)::BIGINT
                  AS n_o
         FROM orders GROUP BY 1 ORDER BY 1""",

    "q_quantile_splits" ->
      """SELECT round(quantile_cont(l_quantity, 0.2)::DOUBLE, 6) AS q20,
                round(quantile_cont(l_quantity, 0.4)::DOUBLE, 6) AS q40,
                round(quantile_cont(l_quantity, 0.6)::DOUBLE, 6) AS q60,
                round(quantile_cont(l_quantity, 0.8)::DOUBLE, 6) AS q80
         FROM lineitem""",

    "q_uniform_splits" ->
      """SELECT round(min(l_extendedprice)
                      + (max(l_extendedprice) - min(l_extendedprice))
                        * 0.25, 6) AS s1,
                round(min(l_extendedprice)
                      + (max(l_extendedprice) - min(l_extendedprice))
                        * 0.50, 6) AS s2,
                round(min(l_extendedprice)
                      + (max(l_extendedprice) - min(l_extendedprice))
                        * 0.75, 6) AS s3
         FROM lineitem""",

    "q_cap_curve" ->
      """WITH agg AS (
           SELECT CASE WHEN l_extendedprice < 25000 THEN 0
                       WHEN l_extendedprice < 50000 THEN 1
                       WHEN l_extendedprice < 75000 THEN 2
                       ELSE 3 END AS bin,
                  count(*) AS n,
                  sum(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END) AS ev
           FROM lineitem GROUP BY 1),
         r AS (
           SELECT bin, n, ev::BIGINT AS ev,
                  round(ev * 1.0 / n, 6) AS event_rate,
                  sum(ev) OVER (ORDER BY round(ev * 1.0 / n, 6) DESC, bin
                                ROWS BETWEEN UNBOUNDED PRECEDING
                                AND CURRENT ROW) AS cum_ev
           FROM agg)
         SELECT bin, n, ev, event_rate,
                round(cum_ev * 1.0 / (SELECT sum(ev) FROM agg), 6)
                  AS cum_capture
         FROM r ORDER BY bin""",

    "q_roc_points" ->
      """WITH agg AS (
           SELECT CASE WHEN l_extendedprice < 25000 THEN 0
                       WHEN l_extendedprice < 50000 THEN 1
                       WHEN l_extendedprice < 75000 THEN 2
                       ELSE 3 END AS bin,
                  count(*) AS n,
                  sum(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END) AS ev
           FROM lineitem GROUP BY 1),
         r AS (
           SELECT bin, n, ev, n - ev AS ne,
                  round(ev * 1.0 / n, 6) AS event_rate,
                  sum(ev) OVER (ORDER BY round(ev * 1.0 / n, 6) DESC, bin
                                ROWS BETWEEN UNBOUNDED PRECEDING
                                AND CURRENT ROW) AS cum_ev,
                  sum(n - ev) OVER (ORDER BY round(ev * 1.0 / n, 6) DESC,
                                    bin
                                    ROWS BETWEEN UNBOUNDED PRECEDING
                                    AND CURRENT ROW) AS cum_ne
           FROM agg)
         SELECT bin, event_rate,
                round(cum_ne * 1.0 / (SELECT sum(n - ev) FROM agg), 6)
                  AS fpr,
                round(cum_ev * 1.0 / (SELECT sum(ev) FROM agg), 6) AS tpr
         FROM r ORDER BY bin""",

    "q_events_window" ->
      """SELECT user_id, event_id,
                row_number() OVER (PARTITION BY user_id
                                   ORDER BY event_id) AS seq,
                round(sum(value) OVER (PARTITION BY user_id
                                       ORDER BY event_id
                                       ROWS BETWEEN UNBOUNDED PRECEDING
                                       AND CURRENT ROW), 6)
                  AS running_value
         FROM events WHERE user_id < 50
         ORDER BY user_id, seq""",

    // plain-inequality replay of the bucketed interval join: the same
    // 15 overlapping windows in integer epoch-second arithmetic
    "q_range_join" ->
      """WITH b AS (
           SELECT min(epoch_us(ts) // 1000000) AS mn,
                  max(epoch_us(ts) // 1000000) AS mx
           FROM events),
         iv AS (
           SELECT i AS ivl,
                  mn + i * ((mx - mn) // 16) AS ss,
                  mn + i * ((mx - mn) // 16) + 2 * ((mx - mn) // 16)
                    AS es
           FROM b, range(0, 15) t(i)),
         j AS (
           SELECT iv.ivl, e.user_id, e.value
           FROM events e JOIN iv
             ON epoch_us(e.ts) >= ss * 1000000
                AND epoch_us(e.ts) < es * 1000000)
         SELECT ivl, count(*) AS n_events,
                count(DISTINCT user_id) AS n_users,
                sum(CAST(floor(value * 1000000.0) AS BIGINT))::BIGINT
                  AS value_q_sum
         FROM j GROUP BY 1 ORDER BY 1""",

    // native ASOF LEFT JOIN replay of the union-tag window operator:
    // unique (user, ts) events, probe grid at 1/4, 1/2, 3/4 of the
    // span in integer epoch seconds (// truncation == Scala Long
    // division for the positive span)
    "q_asof_join" ->
      """WITH e AS (
           SELECT user_id, ts, value FROM events),
         eu AS (
           SELECT user_id, ts, max(value) AS v
           FROM e GROUP BY 1, 2),
         b AS (
           SELECT min(epoch_us(ts) // 1000000) AS mn,
                  max(epoch_us(ts) // 1000000) AS mx
           FROM e),
         grid AS (
           SELECT s AS slot,
                  to_timestamp(mn + s * ((mx - mn) // 4)) AS pts
           FROM b, range(1, 4) t(s)),
         p AS (
           SELECT g.slot, u.user_id, g.pts
           FROM grid g CROSS JOIN (SELECT DISTINCT user_id FROM e) u),
         a AS (
           SELECT p.slot, e2.ts AS ats, e2.v
           FROM p ASOF LEFT JOIN eu e2
             ON p.user_id = e2.user_id AND p.pts >= e2.ts)
         SELECT slot, count(*) AS n_probes, count(ats) AS n_matched,
                COALESCE(sum(CAST(floor(v * 1000000.0) AS BIGINT)),
                         0)::BIGINT AS value_q_sum,
                COALESCE(sum(epoch_us(ats)), 0)::BIGINT AS ts_us_sum
         FROM a GROUP BY 1 ORDER BY 1""",

    "q_sessionize" ->
      """WITH e AS (
           SELECT event_id, user_id, value FROM events
           WHERE user_id < 100),
         g AS (
           SELECT *,
                  lag(event_id) OVER (PARTITION BY user_id
                                      ORDER BY event_id) AS prev
           FROM e),
         m AS (
           SELECT *,
                  CASE WHEN prev IS NULL OR event_id - prev > 1000
                       THEN 1 ELSE 0 END AS brk
           FROM g),
         sid AS (
           SELECT user_id, value, event_id,
                  sum(brk) OVER (PARTITION BY user_id ORDER BY event_id
                                 ROWS BETWEEN UNBOUNDED PRECEDING
                                 AND CURRENT ROW) AS session_id
           FROM m),
         sess AS (
           SELECT user_id, session_id, count(*) AS n_events,
                  sum(value) AS value_sum
           FROM sid GROUP BY 1, 2)
         SELECT user_id, max(session_id)::BIGINT AS n_sessions,
                sum(n_events)::BIGINT AS n_events,
                round(sum(value_sum), 6) AS total_value,
                max(n_events)::BIGINT AS max_session_events
         FROM sess GROUP BY 1 ORDER BY 1""",

    // streaming as-of enrichment replay: DuckDB's NATIVE ASOF LEFT
    // JOIN over the same view/purchase split; epoch-ms sums floor
    // per-side exactly like java.sql.Timestamp.getTime
    "q_stream_asof" ->
      """WITH v AS (
           SELECT user_id, ts FROM events WHERE event_type = 'view'),
         p AS (
           SELECT user_id, ts,
                  CAST(floor(value * 1000000.0) AS BIGINT) AS vq
           FROM events WHERE event_type = 'purchase'),
         a AS (
           SELECT v.user_id, e.ts AS ats, e.vq
           FROM v ASOF LEFT JOIN p e
             ON v.user_id = e.user_id AND v.ts >= e.ts)
         SELECT count(*) AS n_probes, count(ats) AS n_matched,
                COALESCE(sum(epoch_us(ats) // 1000), 0)::BIGINT
                  AS asof_ms_sum,
                COALESCE(sum(vq), 0)::BIGINT AS asof_vq_sum
         FROM a""",

    // stream-stream join replay: the same interval predicate as a
    // plain batch inequality join; COALESCE(...,0) mirrors the Spark
    // side's empty-result guard, and the lag sum subtracts per-side
    // floored epoch seconds exactly as the Spark cast does
    "q_stream_join" ->
      """WITH v AS (
           SELECT user_id, ts FROM events WHERE event_type = 'view'),
         p AS (
           SELECT user_id, ts, value FROM events
           WHERE event_type = 'purchase')
         SELECT count(*) AS n_pairs,
                count(DISTINCT v.user_id) AS n_users,
                COALESCE(sum(v.user_id), 0)::BIGINT AS sum_user,
                COALESCE(sum(CAST(floor(p.value * 1000000.0) AS BIGINT)),
                         0)::BIGINT AS pval_q_sum,
                COALESCE(sum(epoch_us(p.ts) // 1000000
                             - epoch_us(v.ts) // 1000000),
                         0)::BIGINT AS lag_s_sum
         FROM v JOIN p
           ON p.user_id = v.user_id AND p.ts >= v.ts
              AND p.ts <= v.ts + INTERVAL 2 HOUR""",

    // SCD2 replay: identical (ts, event_id) lead window; the span sum
    // subtracts per-side floored epoch seconds like the Spark casts
    "q_scd2" ->
      """WITH e AS (
           SELECT user_id, ts, event_id FROM events
           WHERE ts IS NOT NULL),
         i AS (
           SELECT user_id, ts AS vf,
                  lead(ts) OVER (PARTITION BY user_id
                                 ORDER BY ts, event_id) AS vt
           FROM e)
         SELECT count(*) AS n_intervals, count(vt) AS n_closed,
                sum(epoch_us(vt) // 1000000
                    - epoch_us(vf) // 1000000)::BIGINT AS span_s_sum
         FROM i""",

    "q_transitions" ->
      """WITH e AS (
           SELECT user_id, ts, event_id, event_type FROM events
           WHERE ts IS NOT NULL),
         t AS (
           SELECT lag(event_type) OVER (PARTITION BY user_id
                    ORDER BY ts, event_id) AS prev_type,
                  event_type AS type
           FROM e)
         SELECT prev_type, type, count(*) AS n
         FROM t WHERE prev_type IS NOT NULL
         GROUP BY 1, 2 ORDER BY 1, 2""",

    // retention replay: identical floor-division epoch-day indices
    "q_retention" ->
      """WITH e AS (
           SELECT user_id,
                  epoch_us(ts) // 1000000 // 86400 AS p
           FROM events WHERE ts IS NOT NULL),
         c AS (SELECT user_id, min(p) AS cohort FROM e GROUP BY 1),
         a AS (SELECT DISTINCT user_id, p FROM e)
         SELECT cohort, a.p - cohort AS offset,
                count(DISTINCT a.user_id) AS n_keys
         FROM a JOIN c USING (user_id)
         GROUP BY 1, 2 ORDER BY 1, 2""",

    // skew replay: per-key counts, (count desc, key asc) top pick,
    // and the ceil(9n/10)-th smallest count — value at a rank is
    // tie-order invariant
    "q_skew_report" ->
      """WITH c AS (
           SELECT l_partkey AS k, count(*) AS c FROM lineitem
           WHERE l_partkey IS NOT NULL GROUP BY 1),
         t AS (
           SELECT sum(c)::BIGINT AS n_rows, count(*)::BIGINT AS n_keys,
                  max(c)::BIGINT AS max_count
           FROM c),
         tk AS (
           SELECT k AS top_key FROM c ORDER BY c DESC, k ASC LIMIT 1),
         r AS (
           SELECT c, row_number() OVER (ORDER BY c) AS rn,
                  count(*) OVER () AS n
           FROM c),
         p AS (
           SELECT min(c)::BIGINT AS p90_count FROM r
           WHERE rn = (9 * n + 9) // 10)
         SELECT n_rows, n_keys, max_count, top_key, p90_count
         FROM t, tk, p""",

    // join-cardinality replay: the same two count tables joined on
    // the key; (pairs desc, key asc) picks the worst key
    "q_join_cardinality" ->
      """WITH ca AS (
           SELECT l_partkey AS k, count(*) AS ca FROM lineitem
           WHERE l_partkey IS NOT NULL GROUP BY 1),
         cb AS (
           SELECT l_partkey AS k, count(*) AS cb FROM lineitem
           WHERE l_partkey IS NOT NULL AND l_returnflag = 'R'
           GROUP BY 1),
         t AS (
           SELECT (SELECT sum(ca) FROM ca)::BIGINT AS n_a,
                  (SELECT sum(cb) FROM cb)::BIGINT AS n_b),
         j AS (
           SELECT ca.k, ca.ca * cb.cb AS p FROM ca JOIN cb USING (k)),
         s AS (
           SELECT count(*)::BIGINT AS n_common_keys,
                  sum(p)::BIGINT AS join_rows
           FROM j),
         m AS (
           SELECT p::BIGINT AS max_pair_count, k AS arg_key FROM j
           ORDER BY p DESC, k ASC LIMIT 1)
         SELECT n_a, n_b, n_common_keys, join_rows, max_pair_count,
                arg_key
         FROM t CROSS JOIN s LEFT JOIN m ON true""",

    // KMV-overlap replay: three window-rank KMVs (before, after,
    // union of distinct keys); inclusion-exclusion on both the exact
    // and estimated cardinalities
    "q_kmv_overlap" ->
      """WITH A AS (
           SELECT DISTINCT o_custkey AS c FROM orders
           WHERE o_custkey IS NOT NULL
             AND o_orderdate < TIMESTAMP '1998-01-01'),
         B AS (
           SELECT DISTINCT o_custkey AS c FROM orders
           WHERE o_custkey IS NOT NULL
             AND o_orderdate >= TIMESTAMP '1998-01-01'),
         U AS (SELECT c FROM A UNION SELECT c FROM B),
         ra AS (
           SELECT row_number() OVER (ORDER BY h, c) AS rn,
                  count(*) OVER () AS n, h
           FROM (SELECT c,
                   ('0x' || substr(md5(c::VARCHAR), 1, 13))::BIGINT AS h
                 FROM A)),
         rb AS (
           SELECT row_number() OVER (ORDER BY h, c) AS rn,
                  count(*) OVER () AS n, h
           FROM (SELECT c,
                   ('0x' || substr(md5(c::VARCHAR), 1, 13))::BIGINT AS h
                 FROM B)),
         ru AS (
           SELECT row_number() OVER (ORDER BY h, c) AS rn,
                  count(*) OVER () AS n, h
           FROM (SELECT c,
                   ('0x' || substr(md5(c::VARCHAR), 1, 13))::BIGINT AS h
                 FROM U)),
         g AS (
           SELECT COALESCE((SELECT max(n) FROM ra), 0) AS n_a,
                  (SELECT max(CASE WHEN rn = 64 THEN h END) FROM ra)
                    AS ka,
                  COALESCE((SELECT max(n) FROM rb), 0) AS n_b,
                  (SELECT max(CASE WHEN rn = 64 THEN h END) FROM rb)
                    AS kb,
                  COALESCE((SELECT max(n) FROM ru), 0) AS n_u,
                  (SELECT max(CASE WHEN rn = 64 THEN h END) FROM ru)
                    AS ku),
         e AS (
           SELECT n_a::BIGINT AS n_a, n_b::BIGINT AS n_b,
                  n_u::BIGINT AS n_union,
                  CASE WHEN ka IS NULL OR ka = 0 THEN n_a::BIGINT
                       ELSE 283726776524341248 // ka END AS est_a,
                  CASE WHEN kb IS NULL OR kb = 0 THEN n_b::BIGINT
                       ELSE 283726776524341248 // kb END AS est_b,
                  CASE WHEN ku IS NULL OR ku = 0 THEN n_u::BIGINT
                       ELSE 283726776524341248 // ku END AS est_union
           FROM g)
         SELECT n_a, n_b, n_union, n_a + n_b - n_union AS n_inter,
                est_a, est_b, est_union,
                est_a + est_b - est_union AS est_inter
         FROM e""",

    // WoW replay: the same counts table self-joined on (type, day-7);
    // DuckDB's // truncates toward zero exactly like Spark's div
    "q_wow_deltas" ->
      """WITH c AS (
           SELECT event_type,
                  epoch_us(ts) // 1000000 // 86400 AS day,
                  count(*) AS n
           FROM events WHERE ts IS NOT NULL GROUP BY 1, 2)
         SELECT c.event_type, c.day::BIGINT AS period,
                c.n::BIGINT AS n, p.n::BIGINT AS prev_n,
                (c.n - p.n)::BIGINT AS delta,
                CASE WHEN p.n > 0
                     THEN ((c.n - p.n) * 1000000) // p.n END AS delta_ppm
         FROM c LEFT JOIN c p
           ON p.event_type = c.event_type AND p.day = c.day - 7
         ORDER BY 1, 2""",

    // rolling-active replay: trailing-window distinct via a BETWEEN
    // join against the observed-day list (the quadratic oracle form
    // of the engine's x7 coverage explode)
    "q_rolling_active" ->
      """WITH ud AS (
           SELECT DISTINCT user_id,
                  epoch_us(ts) // 1000000 // 86400 AS day
           FROM events
           WHERE user_id IS NOT NULL AND ts IS NOT NULL),
         days AS (SELECT DISTINCT day FROM ud),
         dau AS (SELECT day, count(*) AS dau FROM ud GROUP BY 1),
         wau AS (
           SELECT d.day, count(DISTINCT u.user_id) AS wau7
           FROM days d
           JOIN ud u ON u.day BETWEEN d.day - 6 AND d.day
           GROUP BY 1)
         SELECT d.day::BIGINT AS day, dau.dau::BIGINT AS dau,
                wau.wau7::BIGINT AS wau7
         FROM days d JOIN dau USING (day) JOIN wau USING (day)
         ORDER BY 1""",

    // growth replay: same flags via min-day and yesterday-membership
    "q_growth_accounting" ->
      """WITH ud AS (
           SELECT DISTINCT user_id AS u,
                  epoch_us(ts) // 1000000 // 86400 AS day
           FROM events
           WHERE user_id IS NOT NULL AND ts IS NOT NULL),
         f AS (SELECT u, min(day) AS first_day FROM ud GROUP BY 1),
         fl AS (
           SELECT ud.day,
                  CASE WHEN ud.day = f.first_day THEN 1 ELSE 0 END
                    AS is_new,
                  CASE WHEN y.u IS NOT NULL THEN 1 ELSE 0 END AS is_ret
           FROM ud
           JOIN f USING (u)
           LEFT JOIN ud y ON y.u = ud.u AND y.day = ud.day - 1),
         pd AS (
           SELECT day, count(*) AS dau, sum(is_new) AS n_new,
                  sum(is_ret) AS n_retained,
                  count(*) - sum(is_new) - sum(is_ret) AS n_resurrected
           FROM fl GROUP BY 1)
         SELECT pd.day::BIGINT AS day, pd.dau::BIGINT AS dau,
                pd.n_new::BIGINT AS n_new,
                pd.n_retained::BIGINT AS n_retained,
                pd.n_resurrected::BIGINT AS n_resurrected,
                (CASE WHEN pv.dau IS NULL THEN 0
                      ELSE pv.dau - pd.n_retained END)::BIGINT
                  AS n_churned
         FROM pd
         LEFT JOIN pd pv ON pv.day = pd.day - 1
         ORDER BY 1""",

    // dup-by-source replay: same two-world content key (null text ->
    // id-keyed uniqueness), same per-source rollup
    "q_dup_by_source" ->
      """WITH k AS (
           SELECT source,
                  CASE WHEN text IS NULL THEN md5(doc_id::VARCHAR)
                       ELSE md5(regexp_replace(lower(trim(text)),
                                               '\s+', ' ', 'g')) END
                    AS fp,
                  (text IS NULL) AS null_world
           FROM documents),
         g AS (
           SELECT source, fp, null_world, count(*) AS n
           FROM k GROUP BY 1, 2, 3)
         SELECT source, sum(n)::BIGINT AS n_docs,
                count(*)::BIGINT AS n_unique,
                (sum(n) - count(*))::BIGINT AS n_dups,
                max(n)::BIGINT AS largest_group
         FROM g GROUP BY 1 ORDER BY 1""",

    // length-histogram replay: identical token count, bit-length log2
    "q_length_histogram" ->
      """WITH t AS (
           SELECT CASE WHEN text IS NULL OR length(trim(text)) = 0
                         THEN 0
                       ELSE length(regexp_split_to_array(trim(text),
                                                         '\s+')) END
                    AS n
           FROM documents),
         b AS (
           SELECT CASE WHEN n = 0 THEN -1
                       ELSE length(printf('%b', n)) - 1 END AS bucket,
                  n
           FROM t)
         SELECT bucket::BIGINT AS bucket, count(*)::BIGINT AS n_docs,
                sum(n)::BIGINT AS sum_tokens,
                min(n)::BIGINT AS min_tokens,
                max(n)::BIGINT AS max_tokens
         FROM b GROUP BY 1 ORDER BY 1""",

    // cross-source replay: same distinct (fingerprint, source) pairs
    // self-joined under src_a < src_b
    "q_cross_source_dupes" ->
      """WITH fs AS (
           SELECT DISTINCT
                  md5(regexp_replace(lower(trim(text)),
                                     '\s+', ' ', 'g')) AS fp,
                  source
           FROM documents WHERE text IS NOT NULL)
         SELECT a.source AS src_a, b.source AS src_b,
                count(*)::BIGINT AS n_shared_fps
         FROM fs a JOIN fs b
           ON a.fp = b.fp AND a.source < b.source
         GROUP BY 1, 2 ORDER BY 1, 2""",

    // cohort replay: identical max-flag bit folds per user over the
    // same trailing window
    "q_behavior_cohorts" ->
      """WITH u AS (
           SELECT user_id,
                  max(CASE WHEN event_type = 'view' THEN 4
                      ELSE 0 END) +
                  max(CASE WHEN event_type = 'click' THEN 2
                      ELSE 0 END) +
                  max(CASE WHEN event_type = 'purchase' THEN 1
                      ELSE 0 END) AS cohort
           FROM events
           WHERE user_id IS NOT NULL
             AND ts >= TIMESTAMP '2024-01-29 12:00:00'
           GROUP BY 1)
         SELECT cohort::BIGINT AS cohort, count(*)::BIGINT AS n_users
         FROM u GROUP BY 1 ORDER BY 1""",

    // gap-profile replay: same per-user lag under (sec, event_id);
    // the median is the ceil(n/2)-th smallest gap (rank-at-value is
    // tie-order invariant)
    "q_event_gaps" ->
      """WITH g AS (
           SELECT epoch_us(ts) // 1000000 -
                  lag(epoch_us(ts) // 1000000) OVER (
                    PARTITION BY user_id
                    ORDER BY epoch_us(ts) // 1000000, event_id) AS gap
           FROM events
           WHERE user_id IS NOT NULL AND ts IS NOT NULL),
         gg AS (SELECT gap FROM g WHERE gap IS NOT NULL),
         t AS (
           SELECT count(*)::BIGINT AS n_gaps,
                  min(gap)::BIGINT AS min_gap_s,
                  max(gap)::BIGINT AS max_gap_s,
                  sum(gap)::BIGINT AS sum_gap_s
           FROM gg),
         r AS (
           SELECT gap, row_number() OVER (ORDER BY gap) AS rn,
                  count(*) OVER () AS n
           FROM gg),
         p AS (
           SELECT min(gap)::BIGINT AS p50_gap_s FROM r
           WHERE rn = (n + 1) // 2)
         SELECT n_gaps, min_gap_s, max_gap_s, sum_gap_s, p50_gap_s
         FROM t, p""",

    // key-gap replay: one global lag over distinct keys; (gap desc,
    // key asc) picks the reported worst gap
    "q_key_gaps" ->
      """WITH k AS (
           SELECT DISTINCT o_orderkey AS k FROM orders
           WHERE o_orderkey IS NOT NULL),
         d AS (
           SELECT k, k - lag(k) OVER (ORDER BY k) - 1 AS g,
                  lag(k) OVER (ORDER BY k) AS p
           FROM k),
         gp AS (SELECT g, p FROM d WHERE g > 0),
         t AS (
           SELECT count(*)::BIGINT AS n_keys, min(k) AS min_key,
                  max(k) AS max_key,
                  (max(k) - min(k) + 1 - count(*))::BIGINT AS n_missing
           FROM k),
         m AS (SELECT count(*)::BIGINT AS n_gaps FROM gp),
         x AS (
           SELECT g::BIGINT AS max_gap, p AS gap_after_key FROM gp
           ORDER BY g DESC, p ASC LIMIT 1)
         SELECT n_keys, min_key, max_key, n_missing, n_gaps, max_gap,
                gap_after_key
         FROM t CROSS JOIN m LEFT JOIN x ON true""",

    // RFM replay: plain window row_numbers over the customer
    // aggregate under the same (metric, cust) total orders; quintile
    // band = ((rn-1)*5) // n + 1
    "q_rfm_segments" ->
      """WITH pc AS (
           SELECT o_custkey AS cust,
                  max(epoch_us(o_orderdate) // 1000000 // 86400)
                    AS last_day,
                  count(*) AS freq,
                  sum(round(o_totalprice * 100)::BIGINT) AS cents
           FROM orders
           WHERE o_custkey IS NOT NULL AND o_orderdate IS NOT NULL
           GROUP BY 1),
         r AS (
           SELECT cust, cents,
                  row_number() OVER (ORDER BY last_day, cust) AS rnr,
                  row_number() OVER (ORDER BY freq, cust) AS rnf,
                  row_number() OVER (ORDER BY cents, cust) AS rnm,
                  count(*) OVER () AS n
           FROM pc),
         sc AS (
           SELECT cents,
                  ((rnr - 1) * 5) // n + 1 AS r_score,
                  ((rnf - 1) * 5) // n + 1 AS f_score,
                  ((rnm - 1) * 5) // n + 1 AS m_score
           FROM r)
         SELECT (r_score * 100 + f_score * 10 + m_score)::BIGINT
                  AS segment,
                count(*) AS n_customers,
                sum(cents)::BIGINT AS sum_monetary_cents
         FROM sc GROUP BY 1 ORDER BY 1""",

    // FD replay: count(distinct rhs) plus a null-world increment per
    // lhs group, rolled up per candidate dependency
    "q_fd_violations" ->
      """WITH
         g1 AS (
           SELECT count(DISTINCT l_shipdate) +
                  max(CASE WHEN l_shipdate IS NULL THEN 1 ELSE 0 END)
                    AS dy,
                  count(*) AS n
           FROM lineitem WHERE l_orderkey IS NOT NULL
           GROUP BY l_orderkey),
         g2 AS (
           SELECT count(DISTINCT l_suppkey) +
                  max(CASE WHEN l_suppkey IS NULL THEN 1 ELSE 0 END)
                    AS dy,
                  count(*) AS n
           FROM lineitem WHERE l_partkey IS NOT NULL
           GROUP BY l_partkey),
         g3 AS (
           SELECT count(DISTINCT l_returnflag) +
                  max(CASE WHEN l_returnflag IS NULL THEN 1 ELSE 0 END)
                    AS dy,
                  count(*) AS n
           FROM lineitem WHERE l_orderkey IS NOT NULL
           GROUP BY l_orderkey)
         SELECT 'l_orderkey->l_shipdate' AS fd,
                count(*) AS n_groups,
                sum(CASE WHEN dy > 1 THEN 1 ELSE 0 END)::BIGINT
                  AS n_violating_groups,
                sum(CASE WHEN dy > 1 THEN n ELSE 0 END)::BIGINT
                  AS n_violating_rows,
                max(dy)::BIGINT AS max_distinct_rhs
         FROM g1
         UNION ALL
         SELECT 'l_partkey->l_suppkey', count(*),
                sum(CASE WHEN dy > 1 THEN 1 ELSE 0 END)::BIGINT,
                sum(CASE WHEN dy > 1 THEN n ELSE 0 END)::BIGINT,
                max(dy)::BIGINT
         FROM g2
         UNION ALL
         SELECT 'l_orderkey->l_returnflag', count(*),
                sum(CASE WHEN dy > 1 THEN 1 ELSE 0 END)::BIGINT,
                sum(CASE WHEN dy > 1 THEN n ELSE 0 END)::BIGINT,
                max(dy)::BIGINT
         FROM g3
         ORDER BY fd""",

    // rollup replay: GROUP BY ROLLUP with the same grouping-id and
    // null-as-subtotal ordering
    "q_rollup_hierarchy" ->
      """SELECT r_name, n_name, count(*) AS n_cust,
                CAST(sum(c_custkey) AS BIGINT) AS key_sum,
                GROUPING(r_name, n_name) AS gid
         FROM customer
         JOIN nation ON c_nationkey = n_nationkey
         JOIN region ON n_regionkey = r_regionkey
         GROUP BY ROLLUP (r_name, n_name)
         ORDER BY gid, r_name NULLS FIRST, n_name NULLS FIRST""",

    // throttle replay: same lag over the same (sec, id) total order
    // referential replay: NOT-IN anti semantics per relationship (the
    // parent subqueries are null-guarded to keep NOT IN total)
    "q_ref_integrity" ->
      """WITH
         c1 AS (SELECT count(*) AS n_child,
                  CAST(sum(CASE WHEN c_nationkey IS NULL THEN 1 ELSE 0
                           END) AS BIGINT) AS n_null_keys
                FROM customer),
         o1 AS (SELECT count(*) AS n_orphans,
                  CAST(COALESCE(sum(c_nationkey), 0) AS BIGINT)
                    AS orphan_key_sum
                FROM customer WHERE c_nationkey IS NOT NULL
                  AND c_nationkey NOT IN
                    (SELECT n_nationkey FROM nation
                     WHERE n_nationkey IS NOT NULL)),
         c2 AS (SELECT count(*) AS n_child,
                  CAST(sum(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0
                           END) AS BIGINT) AS n_null_keys
                FROM orders),
         o2 AS (SELECT count(*) AS n_orphans,
                  CAST(COALESCE(sum(o_custkey), 0) AS BIGINT)
                    AS orphan_key_sum
                FROM orders WHERE o_custkey IS NOT NULL
                  AND o_custkey NOT IN
                    (SELECT c_custkey FROM customer
                     WHERE c_custkey IS NOT NULL)),
         c3 AS (SELECT count(*) AS n_child,
                  CAST(sum(CASE WHEN l_partkey IS NULL THEN 1 ELSE 0
                           END) AS BIGINT) AS n_null_keys
                FROM lineitem),
         o3 AS (SELECT count(*) AS n_orphans,
                  CAST(COALESCE(sum(l_partkey), 0) AS BIGINT)
                    AS orphan_key_sum
                FROM lineitem WHERE l_partkey IS NOT NULL
                  AND l_partkey NOT IN
                    (SELECT p_partkey FROM part
                     WHERE p_partkey IS NOT NULL)),
         c4 AS (SELECT count(*) AS n_child,
                  CAST(sum(CASE WHEN l_orderkey IS NULL THEN 1 ELSE 0
                           END) AS BIGINT) AS n_null_keys
                FROM lineitem),
         o4 AS (SELECT count(*) AS n_orphans,
                  CAST(COALESCE(sum(l_orderkey), 0) AS BIGINT)
                    AS orphan_key_sum
                FROM lineitem WHERE l_orderkey IS NOT NULL
                  AND l_orderkey NOT IN
                    (SELECT o_orderkey FROM orders
                     WHERE o_orderkey IS NOT NULL
                       AND o_orderkey % 11 <> 0))
         SELECT 'customer->nation' AS relationship, c1.n_child,
                c1.n_null_keys, o1.n_orphans, o1.orphan_key_sum
         FROM c1, o1
         UNION ALL
         SELECT 'orders->customer', c2.n_child, c2.n_null_keys,
                o2.n_orphans, o2.orphan_key_sum FROM c2, o2
         UNION ALL
         SELECT 'lineitem->part', c3.n_child, c3.n_null_keys,
                o3.n_orphans, o3.orphan_key_sum FROM c3, o3
         UNION ALL
         SELECT 'lineitem->orders_mod11', c4.n_child, c4.n_null_keys,
                o4.n_orphans, o4.orphan_key_sum FROM c4, o4
         ORDER BY relationship""",

    // k-anonymity replay: one combo histogram + one roll-up
    "q_k_anonymity" ->
      """WITH g AS (
           SELECT c_nationkey, c_mktsegment, count(*) AS c
           FROM customer GROUP BY 1, 2)
         SELECT CAST(sum(c) AS BIGINT) AS n_rows,
                count(*) AS n_combos,
                CAST(sum(CASE WHEN c < 5 THEN 1 ELSE 0 END) AS BIGINT)
                  AS n_risky_combos,
                CAST(sum(CASE WHEN c < 5 THEN c ELSE 0 END) AS BIGINT)
                  AS n_risky_rows,
                CAST(min(c) AS BIGINT) AS min_combo_size
         FROM g""",

    // rank replay: the single-reducer rank() the distributed two-pass
    // bucket rank must land on exactly
    "q_rank_transform" ->
      """WITH v AS (
           SELECT CAST(FLOOR(l_extendedprice) AS BIGINT) AS v
           FROM lineitem WHERE l_extendedprice IS NOT NULL),
         r AS (
           SELECT v, rank() OVER (ORDER BY v) AS rank,
                  count(*) OVER () AS n
           FROM v)
         SELECT ((rank - 1) * 10) // n AS decile, count(*) AS n_rows,
                min(v) AS v_min, max(v) AS v_max,
                CAST(sum(rank) AS BIGINT) AS rank_sum
         FROM r GROUP BY 1 ORDER BY 1""",

    // Spearman replay: doubled average rank = 2*(rank()-1) +
    // tie-count + 1, identical algebra to the bucketed two-pass
    "q_spearman" ->
      """WITH b AS (
           SELECT l_returnflag AS g,
                  CAST(FLOOR(l_extendedprice) AS BIGINT) AS x,
                  CAST(FLOOR(l_quantity) AS BIGINT) AS y
           FROM lineitem
           WHERE l_extendedprice IS NOT NULL AND l_quantity IS NOT NULL),
         r AS (
           SELECT g,
                  2 * (rank() OVER (PARTITION BY g ORDER BY x) - 1)
                    + count(*) OVER (PARTITION BY g, x) + 1 AS rx2,
                  2 * (rank() OVER (PARTITION BY g ORDER BY y) - 1)
                    + count(*) OVER (PARTITION BY g, y) + 1 AS ry2
           FROM b)
         SELECT g AS l_returnflag, count(*) AS n,
                CAST(sum((rx2 - ry2) * (rx2 - ry2)) AS BIGINT)
                  AS sum_d2_x4
         FROM r GROUP BY 1 ORDER BY 1""",

    // MAD replay: doubled median = sum of the two middle order
    // statistics; anomaly iff 2*kDen*|2x - median2| > kNum*mad2
    "q_anomaly_mad" ->
      """WITH x AS (
           SELECT event_type AS g, event_id AS i,
                  CAST(FLOOR(value * 100) AS BIGINT) AS v
           FROM events WHERE value IS NOT NULL),
         st AS (
           SELECT g, i, v,
                  row_number() OVER (PARTITION BY g ORDER BY v) AS rn,
                  count(*) OVER (PARTITION BY g) AS n
           FROM x),
         m AS (
           SELECT g,
                  sum(CASE WHEN rn = (n + 1) // 2 THEN v ELSE 0 END
                    + CASE WHEN rn = n // 2 + 1 THEN v ELSE 0 END)
                    AS median2
           FROM st GROUP BY 1),
         d AS (
           SELECT x.g, x.i, abs(2 * x.v - m.median2) AS dev, m.median2
           FROM x JOIN m ON x.g = m.g),
         sd AS (
           SELECT g, i, dev, median2,
                  row_number() OVER (PARTITION BY g ORDER BY dev) AS rn,
                  count(*) OVER (PARTITION BY g) AS n
           FROM d),
         mad AS (
           SELECT g,
                  sum(CASE WHEN rn = (n + 1) // 2 THEN dev ELSE 0 END
                    + CASE WHEN rn = n // 2 + 1 THEN dev ELSE 0 END)
                    AS mad2
           FROM sd GROUP BY 1)
         SELECT d.g AS event_type, count(*) AS n,
                CAST(max(d.median2) AS BIGINT) AS median2,
                CAST(max(mad.mad2) AS BIGINT) AS mad2,
                CAST(sum(CASE WHEN 2 * d.dev > 3 * mad.mad2
                              THEN 1 ELSE 0 END) AS BIGINT)
                  AS n_anomalies,
                CAST(sum(CASE WHEN 2 * d.dev > 3 * mad.mad2
                              THEN d.i ELSE 0 END) AS BIGINT) AS id_sum
         FROM d JOIN mad ON d.g = mad.g
         GROUP BY 1 ORDER BY 1""",

    // skyline replay: the quadratic NOT-EXISTS dominance definition —
    // the distributed sweep must land on exactly this set
    "q_skyline" ->
      """WITH p AS (
           SELECT l_orderkey, l_linenumber,
                  CAST(FLOOR(l_extendedprice) AS BIGINT) AS price_fl,
                  CAST(FLOOR(l_quantity) AS BIGINT) AS qty
           FROM lineitem
           WHERE l_extendedprice IS NOT NULL AND l_quantity IS NOT NULL)
         SELECT l_orderkey, l_linenumber, price_fl, qty FROM p a
         WHERE NOT EXISTS (
           SELECT 1 FROM p b
           WHERE b.price_fl <= a.price_fl AND b.qty >= a.qty
             AND (b.price_fl < a.price_fl OR b.qty > a.qty))
         ORDER BY price_fl, qty, l_orderkey, l_linenumber""",

    // overlap replay: same day-split + (-1 before +1) sweep order
    "q_overlap_peak" ->
      """WITH iv AS (
           SELECT event_type AS k, event_id AS i,
                  epoch_us(ts) // 1000000 AS s,
                  epoch_us(ts) // 1000000
                    + GREATEST(1, CAST(FLOOR(value * 60) AS BIGINT))
                    AS e
           FROM events WHERE ts IS NOT NULL AND value IS NOT NULL),
         seg AS (
           SELECT k, i, d,
                  GREATEST(s, d * 86400) AS ss,
                  LEAST(e, (d + 1) * 86400) AS se
           FROM iv, UNNEST(range(s // 86400, (e - 1) // 86400 + 1))
                      AS t(d)),
         pts AS (
           SELECT k, d, ss AS t, 1 AS delta, i FROM seg
           UNION ALL
           SELECT k, d, se, -1, i FROM seg),
         sw AS (
           SELECT k, d,
                  sum(delta) OVER (PARTITION BY k, d
                                   ORDER BY t, delta, i
                                   ROWS BETWEEN UNBOUNDED PRECEDING
                                     AND CURRENT ROW) AS open
           FROM pts)
         SELECT k AS event_type, d AS day,
                CAST(max(open) AS BIGINT) AS peak,
                (count(*) // 2) AS n_segments
         FROM sw GROUP BY 1, 2 ORDER BY 1, 2""",

    // BFS replay: three unrolled frontier levels (level-min fixpoint
    // is order-insensitive, so set algebra lands on the same sets)
    "q_bfs_hops" ->
      """WITH p AS (
           SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
           WHERE l_orderkey IS NOT NULL AND l_partkey IS NOT NULL),
         e2 AS (
           SELECT a.l_partkey AS a, b.l_partkey AS b
           FROM p a JOIN p b ON a.l_orderkey = b.l_orderkey
                            AND a.l_partkey < b.l_partkey
           GROUP BY 1, 2 HAVING count(*) >= 2),
         ed AS (SELECT a AS src, b AS dst FROM e2
                UNION ALL SELECT b, a FROM e2),
         d0 AS (SELECT DISTINCT src AS v FROM ed WHERE src % 25 = 0),
         r1 AS (
           SELECT DISTINCT ed.dst AS v FROM ed JOIN d0 ON ed.src = d0.v
           WHERE ed.dst NOT IN (SELECT v FROM d0)),
         r2 AS (
           SELECT DISTINCT ed.dst AS v FROM ed JOIN r1 ON ed.src = r1.v
           WHERE ed.dst NOT IN (SELECT v FROM d0
                                UNION ALL SELECT v FROM r1)),
         r3 AS (
           SELECT DISTINCT ed.dst AS v FROM ed JOIN r2 ON ed.src = r2.v
           WHERE ed.dst NOT IN (SELECT v FROM d0
                                UNION ALL SELECT v FROM r1
                                UNION ALL SELECT v FROM r2)),
         lv AS (
           SELECT v, 0 AS dist FROM d0
           UNION ALL SELECT v, 1 FROM r1
           UNION ALL SELECT v, 2 FROM r2
           UNION ALL SELECT v, 3 FROM r3)
         SELECT CAST(dist AS BIGINT) AS dist, count(*) AS n_nodes,
                CAST(sum(v) AS BIGINT) AS v_sum
         FROM lv GROUP BY 1 ORDER BY 1""",

    // collocation replay: same tokenize chain as q_bigram_lm, lift as
    // the same BIGINT triple-product floor division
    "q_collocations" ->
      """WITH t AS (
           SELECT list_filter(string_split_regex(lower(trim(text)),
                                                 '\s+'),
                              x -> x <> '') AS w
           FROM documents WHERE text IS NOT NULL),
         uc AS (
           SELECT tok, count(*) AS c
           FROM (SELECT unnest(w) AS tok FROM t) GROUP BY 1),
         n AS (SELECT sum(c) AS n_total FROM uc),
         bc AS (
           SELECT bigram, count(*) AS cnt
           FROM (SELECT unnest([w[i] || ' ' || w[i+1]
                                FOR i IN range(1, len(w))]) AS bigram
                 FROM t)
           GROUP BY 1 HAVING count(*) >= 5),
         j AS (
           SELECT bigram, cnt,
                  split_part(bigram, ' ', 1) AS w1,
                  split_part(bigram, ' ', 2) AS w2
           FROM bc)
         SELECT j.bigram, j.cnt::BIGINT AS cnt,
                ((j.cnt * n.n_total * 1000000) // (u1.c * u2.c))::BIGINT
                  AS lift_scaled
         FROM j JOIN uc u1 ON j.w1 = u1.tok
                JOIN uc u2 ON j.w2 = u2.tok
                CROSS JOIN n
         ORDER BY lift_scaled DESC, cnt DESC, bigram LIMIT 20""",

    "q_throttle" ->
      """WITH e AS (
           SELECT user_id, event_id, event_type,
                  epoch_us(ts) // 1000000 AS sec
           FROM events WHERE ts IS NOT NULL),
         l AS (
           SELECT *,
                  lag(sec) OVER (PARTITION BY user_id
                                 ORDER BY sec, event_id) AS prev_sec
           FROM e)
         SELECT event_type, count(*) AS n_kept,
                CAST(sum(event_id) AS BIGINT) AS id_sum
         FROM l WHERE prev_sec IS NULL OR sec - prev_sec >= 1800
         GROUP BY 1 ORDER BY 1""",

    // z-order replay: the bit interleave unrolls as a DuckDB list
    // comprehension over the same masked bits
    "q_zorder" ->
      """WITH z AS (
           SELECT list_sum(
                    [(((o_custkey % 65536) >> i) & 1)
                       * (1::BIGINT << (2*i)) +
                     (((o_orderkey % 65536) >> i) & 1)
                       * (1::BIGINT << (2*i+1))
                     for i in range(16)])::BIGINT AS zk
           FROM orders)
         SELECT zk // 4194304 AS bucket, count(*) AS n,
                CAST(sum(zk) AS BIGINT) AS z_sum
         FROM z GROUP BY 1 ORDER BY 1""",

    // streaming rollup replay: the full recompute over the new
    // snapshot — the maintained view must land exactly on it
    "q_stream_rollup" ->
      """SELECT o_orderstatus, count(*) AS n,
                CAST(sum(CASE WHEN o_orderkey % 3 = 0
                              THEN o_custkey + 1 ELSE o_custkey END)
                     AS BIGINT) AS sum_o_custkey
         FROM orders WHERE o_orderkey % 5 <> 0
         GROUP BY 1 ORDER BY 1""",

    // time-weighted replay: same lead-per-key intervals on RAW
    // timestamps (the SCD order), epoch floors applied at the
    // duration step exactly like the Spark casts
    "q_time_weighted" ->
      """WITH e AS (
           SELECT user_id, event_id, ts,
                  CAST(floor(value * 1000000.0) AS BIGINT) AS vq
           FROM events WHERE ts IS NOT NULL),
         h AS (SELECT max(epoch_us(ts) // 1000000) + 3600 AS horizon
               FROM e),
         iv AS (
           SELECT user_id, vq, ts AS f,
                  lead(ts) OVER (PARTITION BY user_id
                                 ORDER BY ts, event_id) AS t
           FROM e),
         w AS (
           SELECT user_id,
                  greatest(least(COALESCE(epoch_us(t) // 1000000,
                                          horizon), horizon)
                           - epoch_us(f) // 1000000, 0) AS dur,
                  vq
           FROM iv, h WHERE epoch_us(f) // 1000000 < horizon),
         k AS (SELECT user_id, sum(vq * dur) AS tws, sum(dur) AS durs
               FROM w GROUP BY 1)
         SELECT count(*) AS n_keys, CAST(sum(tws) AS BIGINT) AS tw_total,
                CAST(sum(durs) AS BIGINT) AS dur_total
         FROM k""",

    // latency replay: same greedy two-step funnel; integer epoch
    // seconds floor both sides (CAST AS LONG == epoch_us // 1e6)
    "q_funnel_latency" ->
      """WITH s1 AS (
           SELECT user_id AS u, min(ts) AS t FROM events
           WHERE event_type = 'signup' AND ts IS NOT NULL GROUP BY 1),
         s2 AS (
           SELECT s1.u, s1.t AS t1, min(e.ts) AS t2
           FROM s1 JOIN events e
             ON e.user_id = s1.u AND e.event_type = 'purchase'
                AND e.ts > s1.t
           GROUP BY 1, 2)
         SELECT (epoch_us(t2) // 1000000 - epoch_us(t1) // 1000000)
                  // 3600 AS delay_h,
                count(*) AS n_users
         FROM s2 GROUP BY 1 ORDER BY 1""",

    // fuzzy-pairs replay: brute-force levenshtein over the SAME
    // vocabulary — completeness proof for the blocked join
    "q_fuzzy_pairs" ->
      """WITH v AS (
           SELECT DISTINCT lower(c_name) AS s FROM customer
           WHERE c_name IS NOT NULL)
         SELECT a.s AS a, b.s AS b
         FROM v a JOIN v b ON a.s < b.s
         WHERE levenshtein(a.s, b.s) = 1
         ORDER BY 1, 2""",

    // ewma replay: daily counts, W-day dyadic-weight window sum via a
    // bounded day-range self-join (engine explodes forward — same
    // calendar terms), constant denominator, identical flag + top pick
    // score-deploy replay: train-cohort binning/WoE, the closed-form
    // saturated model (coef=-1, b0=ln(te/tne) of TRAIN), test tallies
    // under the train threshold (p >= 0.5 <=> woe <= b0), per-bin PSI
    "q_score_deploy" ->
      """WITH b AS (
           SELECT l_orderkey % 2 AS c,
                  CASE WHEN l_extendedprice < 25000 THEN 0
                       WHEN l_extendedprice < 50000 THEN 1
                       WHEN l_extendedprice < 75000 THEN 2
                       ELSE 3 END AS bin,
                  CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS y
           FROM lineitem),
         tr AS (
           SELECT bin, count(*) AS n, sum(y) AS e,
                  count(*) - sum(y) AS ne
           FROM b WHERE c = 0 GROUP BY 1),
         tt AS (SELECT sum(e)::DOUBLE AS te, sum(ne)::DOUBLE AS tne
                FROM tr),
         w AS (
           SELECT bin, n AS n_train,
                  ln((ne / tne) / (e / te)) AS woe,
                  ln(te / tne) AS b0
           FROM tr, tt),
         te2 AS (
           SELECT b.bin, count(*) AS n_test,
                  sum(b.y) AS n_test_event,
                  sum(CASE WHEN b.y = 1 AND w.woe <= w.b0
                      THEN 1 ELSE 0 END) AS n_test_tp,
                  sum(CASE WHEN b.y = 0 AND w.woe > w.b0
                      THEN 1 ELSE 0 END) AS n_test_tn
           FROM b JOIN w ON b.bin = w.bin
           WHERE b.c = 1 GROUP BY 1),
         tots AS (
           SELECT (SELECT sum(n_train) FROM w)::DOUBLE AS ttr,
                  (SELECT sum(n_test) FROM te2)::DOUBLE AS tte)
         SELECT w.bin::BIGINT AS bin, w.n_train::BIGINT AS n_train,
                te2.n_test::BIGINT AS n_test,
                round(w.woe, 6) AS woe_train,
                te2.n_test_event::BIGINT AS n_test_event,
                te2.n_test_tp::BIGINT AS n_test_tp,
                te2.n_test_tn::BIGINT AS n_test_tn,
                round((te2.n_test / tte - w.n_train / ttr)
                      * ln((te2.n_test / tte) / (w.n_train / ttr)), 6)
                  AS psi_bin
         FROM w JOIN te2 ON w.bin = te2.bin CROSS JOIN tots
         ORDER BY 1""",

    // snowflake replay: identical join chain and the same integer
    // cents x (100 - pct) revenue arithmetic
    "q_snowflake_rollup" ->
      """SELECT r.r_name AS region, p.p_type AS part_type,
                count(*)::BIGINT AS n_lines,
                sum(CAST(round(l.l_extendedprice * 100) AS BIGINT)
                    * (100 - CAST(round(l.l_discount * 100) AS BIGINT)))
                  ::BIGINT AS revenue_scaled
         FROM lineitem l
         JOIN supplier s ON l.l_suppkey = s.s_suppkey
         JOIN nation n ON s.s_nationkey = n.n_nationkey
         JOIN region r ON n.n_regionkey = r.r_regionkey
         JOIN part p ON l.l_partkey = p.p_partkey
         GROUP BY 1, 2 ORDER BY 1, 2""",

    // cycle-time replay: same epoch-day gap, lower+upper order
    // statistics for the doubled median, identical SLA flag
    "q_cycle_time" ->
      """WITH j AS (
           SELECT o.o_orderpriority AS priority,
                  (epoch_us(l.l_shipdate) // 1000000
                   - epoch_us(o.o_orderdate) // 1000000) // 86400
                    AS gap
           FROM lineitem l JOIN orders o
             ON l.l_orderkey = o.o_orderkey
           WHERE l.l_shipdate IS NOT NULL
             AND o.o_orderdate IS NOT NULL),
         r AS (
           SELECT priority, gap,
                  row_number() OVER (PARTITION BY priority
                                     ORDER BY gap) AS rn,
                  count(*) OVER (PARTITION BY priority) AS n
           FROM j),
         m AS (
           SELECT priority,
                  sum(CASE WHEN rn = (n + 1) // 2 THEN gap ELSE 0 END
                    + CASE WHEN rn = n // 2 + 1 THEN gap ELSE 0 END)
                    ::BIGINT AS median2
           FROM r GROUP BY 1)
         SELECT j.priority, count(*)::BIGINT AS n_lines,
                sum(CASE WHEN gap > 30 THEN 1 ELSE 0 END)::BIGINT
                  AS n_sla_breach,
                max(gap)::BIGINT AS max_gap,
                sum(gap)::BIGINT AS gap_sum,
                max(m.median2)::BIGINT AS median2
         FROM j JOIN m ON j.priority = m.priority
         GROUP BY 1 ORDER BY 1""",

    "q_ewma_anomaly" -> ewmaAnomalySql,

    // stream-ewma replay: daily counts are additive, so the maintained
    // complete-mode snapshot equals the batch daily table — the oracle
    // is the batch chart verbatim
    "q_stream_ewma" -> ewmaAnomalySql,

    // embed-drift replay: per-(label, dim) quantized sums per half,
    // full-outer on (label, dim), the same cross-multiplied L1
    "q_embed_drift" ->
      """WITH e AS (
           SELECT vec_id, label::BIGINT AS label,
                  [floor(x * 1000000)::BIGINT
                   FOR x IN embedding::DOUBLE[]] AS qv
           FROM embeddings
           WHERE label IS NOT NULL AND embedding IS NOT NULL),
         q AS (
           SELECT vec_id % 2 AS h, label, d - 1 AS dim, qv[d] AS v
           FROM e, unnest(range(1, (len(qv) + 1)::INT)) AS t(d)),
         s AS (
           SELECT h, label, dim, sum(v) AS sv, count(*) AS n
           FROM q GROUP BY 1, 2, 3),
         a AS (SELECT label, dim, sv, n FROM s WHERE h = 0),
         b AS (SELECT label, dim, sv, n FROM s WHERE h = 1),
         j AS (
           SELECT COALESCE(a.label, b.label) AS label,
                  COALESCE(a.n, 0) AS na, COALESCE(b.n, 0) AS nb,
                  COALESCE(a.sv, 0) AS sa, COALESCE(b.sv, 0) AS sb
           FROM a FULL OUTER JOIN b
             ON a.label = b.label AND a.dim = b.dim)
         SELECT label, max(na)::BIGINT AS n_a, max(nb)::BIGINT AS n_b,
                sum(abs(sa * nb - sb * na))::BIGINT AS drift_l1_scaled
         FROM j GROUP BY 1 ORDER BY 1""",

    // knn-eval replay: same quantization, brute distances, rank
    // window (d2 asc, cid asc), vote window (count desc, label asc),
    // confusion rollup — bit-exact integers end to end
    "q_knn_eval" ->
      """WITH e AS (
           SELECT vec_id, label,
                  [floor(x * 1000000)::BIGINT
                   FOR x IN embedding::DOUBLE[]] AS qv
           FROM embeddings
           WHERE label IS NOT NULL AND embedding IS NOT NULL),
         q AS (SELECT vec_id AS qid, label::BIGINT AS qlabel, qv
               FROM e WHERE vec_id < 50),
         d AS (
           SELECT q.qid, q.qlabel, c.vec_id AS cid,
                  c.label::BIGINT AS clabel,
                  list_reduce(list_prepend(0::BIGINT,
                    [ (q.qv[i] - c.qv[i]) * (q.qv[i] - c.qv[i])
                      FOR i IN range(1, 65)]),
                    (a, x) -> a + x) AS d2
           FROM q JOIN e c ON c.vec_id <> q.qid),
         r AS (
           SELECT qid, qlabel, clabel,
                  row_number() OVER (PARTITION BY qid
                                     ORDER BY d2, cid) AS rn
           FROM d),
         v AS (
           SELECT qid, qlabel, clabel, count(*) AS nv
           FROM r WHERE rn <= 5 GROUP BY 1, 2, 3),
         p AS (
           SELECT qid, qlabel, clabel AS predicted,
                  row_number() OVER (PARTITION BY qid
                                     ORDER BY nv DESC, clabel) AS pr
           FROM v)
         SELECT qlabel AS label, predicted, count(*) AS n
         FROM p WHERE pr = 1
         GROUP BY 1, 2 ORDER BY 1, 2""",

    // knn-ivf recall replay: brute truth (rank window over exact
    // integer d2), Lehmer portable-IVF assignment/probing (the
    // q_ivf_topk cell CTE), candidate re-rank within probed cells,
    // then the integer recall rollup — bit-exact end to end
    "q_knn_ivf" ->
      """WITH e AS (
           SELECT vec_id, embedding::DOUBLE[] AS emb,
                  [floor(x * 1000000)::BIGINT
                   FOR x IN embedding::DOUBLE[]] AS qv
           FROM embeddings WHERE embedding IS NOT NULL),
         q AS (SELECT vec_id AS qid, qv FROM e WHERE vec_id < 50),
         t0 AS (
           SELECT q.qid, c.vec_id AS cid,
                  list_reduce(list_prepend(0::BIGINT,
                    [ (q.qv[i] - c.qv[i]) * (q.qv[i] - c.qv[i])
                      FOR i IN range(1, 65)]),
                    (a, x) -> a + x) AS d2
           FROM q JOIN e c ON c.vec_id <> q.qid),
         truth AS (
           SELECT qid, cid FROM (
             SELECT qid, cid,
                    row_number() OVER (PARTITION BY qid
                                       ORDER BY d2, cid) AS rn
             FROM t0) WHERE rn <= 10),
         cent AS (
           SELECT l AS cell,
                  [ (((((((1000+l)*1315423911 + (d-1)*2654435761 + 97531)
                         % 2147483647)
                      * (((1000+l)*1315423911 + (d-1)*2654435761 + 97531)
                         % 2147483647))
                      % 2147483647) * 48271) % 2147483647)
                    * 2.0 / 2147483647.0 - 1.0
                    FOR d IN range(1, 65)] AS ctr
           FROM range(0, 16) t(l)),
         ad AS (
           SELECT vec_id, cell,
                  row_number() OVER (PARTITION BY vec_id
                                     ORDER BY d2, cell) AS rn
           FROM (
             SELECT e.vec_id, c.cell,
                    list_reduce(list_prepend(0.0::DOUBLE,
                      [ (e.emb[d] - c.ctr[d]) * (e.emb[d] - c.ctr[d])
                        FOR d IN range(1, 65)]),
                      (a, b) -> a + b) AS d2
             FROM e CROSS JOIN cent c) t),
         corpus AS (
           SELECT vec_id AS cid, cell FROM ad WHERE rn = 1),
         probes AS (
           SELECT vec_id AS qid, cell
           FROM ad WHERE vec_id < 50 AND rn <= 4),
         iv0 AS (
           SELECT p.qid, c.cid
           FROM corpus c JOIN probes p USING (cell)
           WHERE c.cid <> p.qid),
         iv1 AS (
           SELECT i.qid, i.cid,
                  list_reduce(list_prepend(0::BIGINT,
                    [ (qq.qv[d] - ce.qv[d]) * (qq.qv[d] - ce.qv[d])
                      FOR d IN range(1, 65)]),
                    (a, x) -> a + x) AS d2
           FROM iv0 i JOIN e ce ON ce.vec_id = i.cid
                      JOIN q qq ON qq.qid = i.qid),
         ivf AS (
           SELECT qid, cid FROM (
             SELECT qid, cid,
                    row_number() OVER (PARTITION BY qid
                                       ORDER BY d2, cid) AS rn
             FROM iv1) WHERE rn <= 10),
         pq AS (
           SELECT t.qid, count(*) AS n_t,
                  sum(CASE WHEN i.cid IS NOT NULL THEN 1 ELSE 0 END)
                    AS n_h
           FROM truth t LEFT JOIN ivf i
             ON t.qid = i.qid AND t.cid = i.cid
           GROUP BY 1)
         SELECT count(*)::BIGINT AS n_queries,
                sum(n_t)::BIGINT AS n_truth,
                sum(n_h)::BIGINT AS n_hits,
                (sum(n_h) * 1000000 // sum(n_t))::BIGINT AS recall_ppm,
                sum(CASE WHEN n_h = n_t THEN 1 ELSE 0 END)::BIGINT
                  AS n_perfect
         FROM pq""",

    // jaro-scores replay: brute-force the same edit-1 pair set, score
    // with DuckDB's own jaro_winkler_similarity (same Winkler variant:
    // 0.1 weight, 4-cap prefix, 0.7 boost threshold), micro-bucket
    "q_jaro_scores" ->
      """WITH v AS (
           SELECT DISTINCT lower(c_name) AS s FROM customer
           WHERE c_name IS NOT NULL),
         p AS (
           SELECT a.s AS a, b.s AS b
           FROM v a JOIN v b ON a.s < b.s
           WHERE levenshtein(a.s, b.s) = 1)
         SELECT CAST(round(jaro_winkler_similarity(a, b) * 1000000)
                     AS BIGINT) AS jw_micro,
                count(*) AS n_pairs
         FROM p GROUP BY 1 ORDER BY 1""",

    // compaction replay: row_number desc over the same (sec, id)
    // total order picks the identical latest row per key
    "q_compact_latest" ->
      """WITH e AS (
           SELECT user_id, event_id, event_type,
                  epoch_us(ts) // 1000000 AS sec
           FROM events WHERE ts IS NOT NULL),
         r AS (
           SELECT *,
                  row_number() OVER (PARTITION BY user_id
                    ORDER BY sec DESC, event_id DESC) AS rn,
                  count(*) OVER (PARTITION BY user_id) AS n_versions
           FROM e)
         SELECT event_type, count(*) AS n_users,
                CAST(sum(event_id) AS BIGINT) AS id_sum,
                CAST(sum(n_versions) AS BIGINT) AS versions
         FROM r WHERE rn = 1 GROUP BY 1 ORDER BY 1""",

    // cube replay: GROUP BY CUBE with the same grouping-id bitmask
    // (status bit 2, priority bit 1) and null-as-total ordering
    "q_cube" ->
      """SELECT o_orderstatus, o_orderpriority, count(*) AS n,
                CAST(sum(o_orderkey) AS BIGINT) AS key_sum,
                GROUPING(o_orderstatus, o_orderpriority) AS gid
         FROM orders
         GROUP BY CUBE (o_orderstatus, o_orderpriority)
         ORDER BY gid, o_orderstatus NULLS FIRST,
                  o_orderpriority NULLS FIRST""",

    // pivot replay: conditional aggregation, one column per pinned
    // status value — 0 where the combination is empty, like na.fill
    "q_pivot" ->
      """SELECT o_orderpriority,
                count(*) FILTER (WHERE o_orderstatus = 'F') AS "F",
                count(*) FILTER (WHERE o_orderstatus = 'O') AS "O",
                count(*) FILTER (WHERE o_orderstatus = 'P') AS "P"
         FROM orders GROUP BY 1 ORDER BY 1""",

    // salted join replay: the plain join — equality proves the salt
    // routing loses and duplicates nothing
    "q_salted_join" ->
      """SELECT p_brand, count(*) AS n,
                CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT)
                  AS qty_sum
         FROM lineitem JOIN part ON l_partkey = p_partkey
         GROUP BY 1 ORDER BY 1""",

    // partition-prune replay: plain filtered aggregate — the layout
    // changes the scan set, never the values
    "q_partition_prune" ->
      """SELECT o_orderpriority, count(*) AS n,
                CAST(sum(o_orderkey) AS BIGINT) AS key_sum
         FROM orders
         WHERE o_orderpriority IN ('1-URGENT', '2-HIGH')
         GROUP BY 1 ORDER BY 1""",

    // incremental-agg replay: the FULL recompute over the new
    // snapshot — equality proves the delta maintenance is exact
    "q_incremental_agg" ->
      """SELECT o_orderpriority, count(*) AS n,
                CAST(sum(o_orderkey) AS BIGINT) AS sum_o_orderkey
         FROM orders WHERE o_orderkey % 5 <> 0
         GROUP BY 1 ORDER BY 1""",

    // bucketed join replay: values are those of the plain join — the
    // bucketing changes only the plan (no exchange), never the result
    "q_bucketed_join" ->
      """SELECT c_mktsegment, count(*) AS n_orders,
                CAST(sum(o_orderkey) AS BIGINT) AS key_sum
         FROM orders JOIN customer ON o_custkey = c_custkey
         GROUP BY 1 ORDER BY 1""",

    // densify replay: generate_series spine per key, left join the
    // real counts, zero-fill — identical floor-division day indices
    "q_densify" ->
      """WITH e AS (
           SELECT user_id, epoch_us(ts) // 1000000 // 86400 AS p
           FROM events WHERE ts IS NOT NULL),
         c AS (SELECT user_id, p, count(*) AS n FROM e GROUP BY 1, 2),
         span AS (SELECT user_id, min(p) AS mn, max(p) AS mx
                  FROM c GROUP BY 1),
         spine AS (SELECT user_id, unnest(generate_series(mn, mx)) AS p
                   FROM span),
         d AS (SELECT s.user_id, s.p, COALESCE(c.n, 0) AS n
               FROM spine s LEFT JOIN c
                 ON s.user_id = c.user_id AND s.p = c.p)
         SELECT p AS period,
                count(*) FILTER (WHERE n = 0) AS dormant,
                count(*) FILTER (WHERE n > 0) AS active,
                CAST(sum(n) AS BIGINT) AS n_events
         FROM d GROUP BY 1 ORDER BY 1""",

    // streaming attribution replay: the BATCH attribution oracle —
    // on the in-order replay the stream's per-conversion channels
    // equal the batch window's, so the grouped counts match exactly
    "q_stream_attribution" ->
      """WITH e AS (
           SELECT user_id, event_id, event_type,
                  epoch_us(ts) // 1000000 AS sec
           FROM events WHERE ts IS NOT NULL
             AND event_type IN ('view', 'click', 'purchase')),
         t AS (
           SELECT *,
             last_value(CASE WHEN event_type IN ('view', 'click')
                             THEN sec END IGNORE NULLS)
               OVER (PARTITION BY user_id ORDER BY sec, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
               AS t_sec,
             last_value(CASE WHEN event_type IN ('view', 'click')
                             THEN event_type END IGNORE NULLS)
               OVER (PARTITION BY user_id ORDER BY sec, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
               AS t_type
           FROM e)
         SELECT CASE WHEN t_sec IS NOT NULL AND sec - t_sec <= 86400
                     THEN t_type ELSE 'direct' END AS channel,
                count(*) AS n, CAST(sum(event_id) AS BIGINT) AS id_sum
         FROM t WHERE event_type = 'purchase'
         GROUP BY 1 ORDER BY 1""",

    // audit replay: one aggregate row melted to (metric, value)
    "q_data_quality" ->
      """WITH a AS (
           SELECT count(*) AS nr,
                  sum(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END)
                    AS nc_cust,
                  sum(CASE WHEN o_orderstatus IS NULL THEN 1 ELSE 0 END)
                    AS nc_stat,
                  sum(CASE WHEN o_orderpriority IS NULL THEN 1 ELSE 0 END)
                    AS nc_comm,
                  min(o_orderkey) AS mn_ok, max(o_orderkey) AS mx_ok,
                  min(o_custkey) AS mn_ck, max(o_custkey) AS mx_ck,
                  count(DISTINCT o_orderkey) AS d_ok,
                  count(DISTINCT o_orderstatus) AS d_st
           FROM orders)
         SELECT metric, value FROM (
           SELECT 'n_rows' AS metric, CAST(nr AS BIGINT) AS value FROM a
           UNION ALL SELECT 'null_count:o_custkey', CAST(nc_cust AS BIGINT) FROM a
           UNION ALL SELECT 'null_count:o_orderstatus', CAST(nc_stat AS BIGINT) FROM a
           UNION ALL SELECT 'null_count:o_orderpriority', CAST(nc_comm AS BIGINT) FROM a
           UNION ALL SELECT 'min:o_orderkey', CAST(mn_ok AS BIGINT) FROM a
           UNION ALL SELECT 'max:o_orderkey', CAST(mx_ok AS BIGINT) FROM a
           UNION ALL SELECT 'min:o_custkey', CAST(mn_ck AS BIGINT) FROM a
           UNION ALL SELECT 'max:o_custkey', CAST(mx_ck AS BIGINT) FROM a
           UNION ALL SELECT 'distinct:o_orderkey', CAST(d_ok AS BIGINT) FROM a
           UNION ALL SELECT 'distinct:o_orderstatus', CAST(d_st AS BIGINT) FROM a)
         ORDER BY metric""",

    // streak replay: same island id (period - row_number) on the same
    // floor-division day indices
    "q_streaks" ->
      """WITH e AS (
           SELECT DISTINCT user_id,
                  epoch_us(ts) // 1000000 // 86400 AS p
           FROM events WHERE ts IS NOT NULL),
         isl AS (
           SELECT user_id,
                  p - row_number() OVER (PARTITION BY user_id
                                         ORDER BY p) AS island
           FROM e),
         runs AS (
           SELECT user_id, island, count(*) AS len
           FROM isl GROUP BY 1, 2),
         mx AS (
           SELECT user_id, max(len) AS max_streak
           FROM runs GROUP BY 1)
         SELECT max_streak, count(*) AS n_users,
                CAST(sum(user_id) AS BIGINT) AS user_sum
         FROM mx GROUP BY 1 ORDER BY 1""",

    // JSONL round-trip replay: the oracle reads the parquet directly —
    // equality proves the sink+source path is lossless
    "q_jsonl_roundtrip" ->
      """SELECT source, count(*) AS n_docs,
                CAST(sum(n_chars) AS BIGINT) AS sum_chars,
                count(DISTINCT lang) AS n_langs
         FROM documents GROUP BY 1 ORDER BY 1""",

    // PageRank replay: the two iterations unroll as CTEs with the
    // same floor-per-edge integer contributions — bit-identical ranks
    "q_pagerank" ->
      """WITH p AS (
           SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
           WHERE l_orderkey IS NOT NULL AND l_partkey IS NOT NULL),
         e2 AS (
           SELECT a.l_partkey AS a, b.l_partkey AS b
           FROM p a JOIN p b ON a.l_orderkey = b.l_orderkey
                            AND a.l_partkey < b.l_partkey
           GROUP BY 1, 2 HAVING count(*) >= 2),
         ed AS (SELECT a AS src, b AS dst FROM e2
                UNION ALL SELECT b, a FROM e2),
         deg AS (SELECT src, count(*) AS od FROM ed GROUP BY 1),
         nodes AS (SELECT src AS v FROM ed UNION SELECT dst FROM ed),
         r0 AS (SELECT v, CAST(1000000000000 AS BIGINT) AS rank
                FROM nodes),
         c1 AS (SELECT ed.dst AS v,
                       sum((85 * r0.rank) // (100 * deg.od)) AS cin
                FROM ed JOIN r0 ON ed.src = r0.v
                        JOIN deg ON ed.src = deg.src GROUP BY 1),
         r1 AS (SELECT n.v,
                       CAST(150000000000 + COALESCE(cin, 0) AS BIGINT)
                         AS rank
                FROM nodes n LEFT JOIN c1 ON n.v = c1.v),
         c2 AS (SELECT ed.dst AS v,
                       sum((85 * r1.rank) // (100 * deg.od)) AS cin
                FROM ed JOIN r1 ON ed.src = r1.v
                        JOIN deg ON ed.src = deg.src GROUP BY 1),
         r2 AS (SELECT n.v,
                       CAST(150000000000 + COALESCE(cin, 0) AS BIGINT)
                         AS rank
                FROM nodes n LEFT JOIN c2 ON n.v = c2.v)
         SELECT v, rank FROM r2 ORDER BY rank DESC, v LIMIT 20""",

    // triangle replay: canonical a<b edges chain x<y<z, so the 3-way
    // join counts each triangle exactly once — no orientation needed
    // at oracle scale
    "q_triangles" ->
      """WITH p AS (
           SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
           WHERE l_orderkey IS NOT NULL AND l_partkey IS NOT NULL),
         e AS (
           SELECT a.l_partkey AS a, b.l_partkey AS b
           FROM p a JOIN p b ON a.l_orderkey = b.l_orderkey
                            AND a.l_partkey < b.l_partkey
           GROUP BY 1, 2 HAVING count(*) >= 2),
         v AS (SELECT a AS v FROM e UNION SELECT b FROM e),
         t AS (
           SELECT count(*) AS n_triangles
           FROM e e1 JOIN e e2 ON e1.b = e2.a
                     JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b)
         SELECT (SELECT count(*) FROM v) AS n_nodes,
                (SELECT count(*) FROM e) AS n_edges,
                n_triangles
         FROM t""",

    // co-occurrence replay: distinct (basket,item) self-join with
    // a<b ordering; same total tiebreak makes the LIMIT exact
    "q_copurchase" ->
      """WITH p AS (
           SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
           WHERE l_orderkey IS NOT NULL AND l_partkey IS NOT NULL),
         pr AS (
           SELECT a.l_partkey AS item_a, b.l_partkey AS item_b
           FROM p a JOIN p b ON a.l_orderkey = b.l_orderkey
                            AND a.l_partkey < b.l_partkey)
         SELECT item_a, item_b, count(*) AS n FROM pr
         GROUP BY 1, 2 ORDER BY n DESC, item_a, item_b LIMIT 20""",

    // novelty replay: same normalize/split/3-gram chain as the
    // q_ngram_jaccard oracle; df via count over per-doc distinct grams
    "q_ngram_novelty" ->
      """WITH norm AS (
           SELECT doc_id, source,
                  string_split(regexp_replace(lower(trim(text)),
                                              '\s+', ' ', 'g'), ' ') AS tok
           FROM documents WHERE text IS NOT NULL
         ), sh AS (
           SELECT doc_id, source,
                  CASE WHEN len(tok) < 3
                       THEN [array_to_string(tok, ' ')]
                       ELSE list_distinct(
                              [array_to_string(tok[i:i+2], ' ')
                               for i in range(1, len(tok) - 1)])
                  END AS sh
           FROM norm
         ), pairs AS (
           SELECT doc_id, source, unnest(sh) AS gram FROM sh
         ), bygram AS (
           SELECT gram, count(*) AS df, min(source) AS src
           FROM pairs GROUP BY 1
         ), novel AS (
           SELECT src AS source, count(*) AS n_novel
           FROM bygram WHERE df = 1 GROUP BY 1
         ), tot AS (
           SELECT source, count(DISTINCT doc_id) AS n_docs,
                  count(*) AS n_grams
           FROM pairs GROUP BY 1)
         SELECT t.source, n_docs, n_grams,
                COALESCE(n_novel, 0) AS n_novel
         FROM tot t LEFT JOIN novel USING (source)
         ORDER BY t.source""",

    // attribution replay: identical (sec, id) total order; both
    // last_value IGNORE NULLS windows pick from the same last touch row
    // Exact-OLS replay: identical per-order rollup, identical integer
    // moments + the layered IR solve — bit-identical coefficients and
    // R^2 at any SF
    "q_linreg_exact" -> linregOracle,

    // quantized-Newton logistic replay: the sigmoid-constant product,
    // 2^-24 integer moments and the Cramer steps all re-run in SQL —
    // full-precision coefficient parity (see ExactLogit.scala)
    "q_logreg_exact" -> logregOracle,

    // the incremental (x, y)-histogram twin is an exact integer
    // identity with the row fit — stream == batch by construction,
    // oracle shared verbatim
    "q_stream_logreg" -> logregOracle,

    // weighted replay: the priority weight multiplies every moment
    // inside the HUGEINT casts; n/smu are weight totals
    "q_logreg_weighted" ->
      s"""WITH ${graft.core.ExactLogit.oracleCtesKWeighted(
             "lineitem JOIN orders ON l_orderkey = o_orderkey",
             Seq("round(l_quantity)"),
             "CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END",
             "CASE WHEN o_orderpriority = '1-URGENT' THEN 3 " +
               "WHEN o_orderpriority = '2-HIGH' THEN 2 ELSE 1 END",
             " WHERE l_quantity IS NOT NULL", iters = 3)}
         SELECT mt4.n AS w_total, bt3.b0 AS beta0,
                bt3.b1 AS beta_qty,
                mt4.smu::BIGINT AS sum_mu_q24
         FROM bt3, mt4""",

    // bootstrap replay: the SAME md5-uniform + shipped Poisson-CDF
    // hex thresholds; exact integer sums per replica; the CI bounds
    // are order statistics of the 32 identical replica means
    "q_bootstrap_ci" -> {
      val caseW = poissonCdfHex.zipWithIndex
        .map { case (t, k) => s"WHEN h8 < '$t' THEN $k" }
        .mkString("CASE ", " ", " ELSE 7 END")
      s"""WITH base AS MATERIALIZED (
             SELECT l_orderkey, l_linenumber,
                    CAST(round(l_extendedprice * 100) AS BIGINT) AS v
             FROM lineitem WHERE l_extendedprice IS NOT NULL),
           reps AS (SELECT unnest(range(0, 32)) AS b),
           rh AS MATERIALIZED (
             SELECT b, v,
                    substring(md5(l_orderkey::VARCHAR || ':' ||
                                  l_linenumber::VARCHAR || ':' ||
                                  b::VARCHAR), 1, 8) AS h8
             FROM base CROSS JOIN reps),
           st AS (
             SELECT b, sum(w)::BIGINT AS n_eff,
                    sum(CAST(w * v AS HUGEINT))::BIGINT AS sum_cents
             FROM (SELECT b, v, $caseW AS w FROM rh) GROUP BY b),
           stm AS MATERIALIZED (
             SELECT b, n_eff, sum_cents,
                    CASE WHEN n_eff > 0
                         THEN sum_cents::DOUBLE / n_eff::DOUBLE
                    END AS mean_cents
             FROM st)
         SELECT stm.b, stm.n_eff, stm.sum_cents, stm.mean_cents,
                (SELECT mean_cents FROM stm ORDER BY mean_cents
                 LIMIT 1 OFFSET 1) AS ci90_lo,
                (SELECT mean_cents FROM stm ORDER BY mean_cents
                 LIMIT 1 OFFSET 30) AS ci90_hi
         FROM stm ORDER BY stm.b"""
    },

    // calibration replay: the fitted bt3 betas feed the final row
    // block rt4f, whose per-row exact muq aggregates per score band
    "q_score_calibrate" ->
      s"""WITH ${graft.core.ExactLogit.oracleCtesK(
             "lineitem",
             Seq("CASE WHEN l_extendedprice < 25000.0 THEN 12 " +
                   "WHEN l_extendedprice < 50000.0 THEN 35 " +
                   "WHEN l_extendedprice < 75000.0 THEN 58 " +
                   "ELSE 80 END",
                 "CASE WHEN l_quantity < 10.0 THEN 20 " +
                   "WHEN l_quantity < 25.0 THEN 45 " +
                   "WHEN l_quantity < 40.0 THEN 65 ELSE 85 END"),
             "CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END",
             " WHERE l_extendedprice IS NOT NULL" +
               " AND l_quantity IS NOT NULL", iters = 3)}
         SELECT b.band, b.n, b.events, b.pred_q24,
                bt3.b0 AS beta0, bt3.b1 AS beta_price,
                bt3.b2 AS beta_qty
         FROM (
           SELECT CASE WHEN x0 + x1 < 80 THEN 0
                       WHEN x0 + x1 < 110 THEN 1
                       WHEN x0 + x1 < 140 THEN 2 ELSE 3 END AS band,
                  count(*) AS n, sum(y)::BIGINT AS events,
                  sum(CAST(muq AS HUGEINT))::BIGINT AS pred_q24
           FROM rt4f GROUP BY 1) b, bt3
         ORDER BY b.band""",

    // k-feature replay: the IR-rendered 3x3 Cramer step over the
    // (moments x prev beta) cross join, layered per iteration
    "q_logreg_multi" ->
      s"""WITH ${graft.core.ExactLogit.oracleCtesK(
             "lineitem",
             Seq("round(l_quantity)", "round(l_discount * 100)"),
             "CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END",
             " WHERE l_quantity IS NOT NULL" +
               " AND l_discount IS NOT NULL", iters = 3)}
         SELECT mt4.n AS n, bt3.b0 AS beta0, bt3.b1 AS beta_qty,
                bt3.b2 AS beta_disc, mt4.smu::BIGINT AS sum_mu_q24
         FROM bt3, mt4""",

    // weighted moments + plain/ridge twin solves over ONE moment CTE
    "q_linreg_weighted" -> linregWeightedOracle,

    // quadratic spline = OLS on the integer truncated-power basis —
    // the shared IR composes with zero new solver code
    "q_pw_quadratic" -> pwQuadraticOracle,

    // the streaming twin sums the SAME exact DECIMAL moments over
    // order-disjoint triggers (additive by construction), so its
    // oracle is the batch replay verbatim
    "q_stream_linreg" -> linregOracle,

    // Markov removal-effect replay: the journey/transition SQL mirrors
    // journeyTransitions exactly and the absorption solves are the
    // SAME layered IR program — bit-identical at any SF
    "q_markov_attribution" -> markovAttributionOracle,

    // the streaming twin accumulates the SAME transition counts over
    // journey-disjoint triggers (additive by construction), so its
    // oracle is the batch replay verbatim
    "q_stream_attrib" -> markovAttributionOracle,

    // incremental LSH banding == batch banding (stateless per-row
    // band map, append-only signature store) — batch oracle verbatim
    "q_stream_neardup" -> minhashBandsOracle,

    "q_shapley_attribution" -> {
      val ctes = MarkovAttribution.shapleyOracleCtes(
        "events", attrKeySql, "event_type", "ts", "event_id",
        attrChannels, "purchase")
      val full = (1 << attrChannels.length) - 1
      val sel = attrChannels.zipWithIndex.map { case (c, i) =>
        s"SELECT '$c' AS channel, round(sf.v_$full, 6) AS v_full6, " +
        s"round(sf.phi_$i, 6) AS shapley6, " +
        s"round(sf.shs_$i, 6) AS share6 FROM sf"
      }.mkString("\nUNION ALL\n")
      s"WITH $ctes\n$sel ORDER BY channel"
    },

    "q_attribution" ->
      """WITH e AS (
           SELECT user_id, event_id, event_type,
                  epoch_us(ts) // 1000000 AS sec
           FROM events WHERE ts IS NOT NULL
             AND event_type IN ('view', 'click', 'purchase')),
         t AS (
           SELECT *,
             last_value(CASE WHEN event_type IN ('view', 'click')
                             THEN sec END IGNORE NULLS)
               OVER (PARTITION BY user_id ORDER BY sec, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
               AS t_sec,
             last_value(CASE WHEN event_type IN ('view', 'click')
                             THEN event_type END IGNORE NULLS)
               OVER (PARTITION BY user_id ORDER BY sec, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
               AS t_type
           FROM e)
         SELECT CASE WHEN t_sec IS NOT NULL AND sec - t_sec <= 86400
                     THEN t_type ELSE 'direct' END AS channel,
                count(*) AS n, CAST(sum(event_id) AS BIGINT) AS id_sum
         FROM t WHERE event_type = 'purchase'
         GROUP BY 1 ORDER BY 1""",

    // CDC replay: same full-outer join + IS DISTINCT FROM null-safe
    // compare; integer counts and key checksums only
    "q_snapshot_diff" ->
      """WITH old AS (
           SELECT o_orderkey, o_custkey, o_orderstatus FROM orders
           WHERE o_orderkey % 7 <> 0),
         nw AS (
           SELECT o_orderkey,
                  CASE WHEN o_orderkey % 3 = 0 THEN o_custkey + 1
                       ELSE o_custkey END AS o_custkey,
                  o_orderstatus FROM orders WHERE o_orderkey % 5 <> 0),
         d AS (
           SELECT COALESCE(o.o_orderkey, n.o_orderkey) AS k,
                  CASE WHEN o.o_orderkey IS NULL THEN 'I'
                       WHEN n.o_orderkey IS NULL THEN 'D'
                       WHEN o.o_custkey IS DISTINCT FROM n.o_custkey
                         OR o.o_orderstatus IS DISTINCT FROM n.o_orderstatus
                       THEN 'U' END AS change
           FROM old o FULL OUTER JOIN nw n ON o.o_orderkey = n.o_orderkey)
         SELECT change, count(*) AS n, CAST(sum(k) AS BIGINT) AS key_sum
         FROM d WHERE change IS NOT NULL GROUP BY 1 ORDER BY 1""",

    // top-k replay: the bounded aggregate's (key desc, id asc) order is
    // exactly this window's ORDER BY; integer columns only
    "q_topk_per_group" ->
      """WITH r AS (
           SELECT lang, doc_id, n_chars,
                  row_number() OVER (PARTITION BY lang
                    ORDER BY n_chars DESC, doc_id ASC) AS rank
           FROM documents
           WHERE n_chars IS NOT NULL AND doc_id IS NOT NULL)
         SELECT lang, rank, doc_id, n_chars FROM r
         WHERE rank <= 3 ORDER BY lang, rank""",

    // exact grouped lower-median replay: same histogram + running-count
    // pick; the median is a raw stored value, no arithmetic on it
    "q_group_median" ->
      """WITH h AS (
           SELECT l_returnflag AS g, l_extendedprice AS v,
                  count(*) AS c
           FROM lineitem WHERE l_extendedprice IS NOT NULL
           GROUP BY 1, 2),
         r AS (
           SELECT g, v, c,
                  sum(c) OVER (PARTITION BY g ORDER BY v
                               ROWS UNBOUNDED PRECEDING) AS cum,
                  sum(c) OVER (PARTITION BY g) AS n
           FROM h)
         SELECT g AS l_returnflag, v AS median, n::BIGINT AS n
         FROM r
         WHERE cum - c < (n + 1) // 2 AND (n + 1) // 2 <= cum
         ORDER BY 1""",

    // rolling-feature replay: identical (ts, event_id) window order,
    // identical floor(value*1e6) quantization — every emitted number
    // is a BIGINT sum/count of exact integers
    "q_rolling_stats" ->
      """WITH q AS (
           SELECT event_type, user_id, ts, event_id,
                  CAST(floor(value * 1000000.0) AS BIGINT) AS qv
           FROM events WHERE ts IS NOT NULL),
         r AS (
           SELECT event_type, qv,
                  sum(qv) OVER (PARTITION BY user_id
                    ORDER BY ts, event_id
                    ROWS BETWEEN 3 PRECEDING AND CURRENT ROW) AS mov,
                  qv - lag(qv) OVER (PARTITION BY user_id
                    ORDER BY ts, event_id) AS delta
           FROM q)
         SELECT event_type, count(*) AS n,
                sum(mov)::BIGINT AS roll_q_sum,
                sum(abs(delta))::BIGINT AS abs_delta_sum,
                count(delta) AS n_delta
         FROM r GROUP BY 1 ORDER BY 1""",

    // bigram-LM replay: same whitespace tokens, 1-indexed adjacent
    // pairs, integer // division for the ppm conditional
    "q_bigram_lm" ->
      """WITH t AS (
           SELECT list_filter(string_split_regex(lower(trim(text)),
                                                 '\s+'),
                              x -> x <> '') AS w
           FROM documents WHERE text IS NOT NULL),
         bg AS (
           SELECT unnest([w[i] || ' ' || w[i+1]
                          FOR i IN range(1, len(w))]) AS bigram
           FROM t),
         c AS (SELECT bigram, count(*) AS cnt FROM bg GROUP BY 1),
         f AS (SELECT split_part(bigram, ' ', 1) AS w1, bigram, cnt
               FROM c),
         fc AS (SELECT w1, sum(cnt) AS w1_cnt FROM f GROUP BY 1)
         SELECT f.bigram, f.cnt::BIGINT AS cnt,
                ((f.cnt * 1000000) // fc.w1_cnt)::BIGINT AS cond_ppm
         FROM f JOIN fc USING (w1)
         ORDER BY cnt DESC, bigram LIMIT 20""",

    // greedy funnel replay: per-user earliest step-1 time, then each
    // later step's earliest event strictly after the previous step's
    // time — inner joins drop non-converting users per step, exactly
    // the non-null step_ts_i sets of the Spark fold
    "q_funnel" ->
      """WITH s1 AS (
           SELECT user_id AS u, min(ts) AS t FROM events
           WHERE event_type = 'signup' AND ts IS NOT NULL GROUP BY 1),
         s2 AS (
           SELECT s1.u, min(e.ts) AS t
           FROM s1 JOIN events e
             ON e.user_id = s1.u AND e.event_type = 'view'
                AND e.ts > s1.t
           GROUP BY 1),
         s3 AS (
           SELECT s2.u, min(e.ts) AS t
           FROM s2 JOIN events e
             ON e.user_id = s2.u AND e.event_type = 'click'
                AND e.ts > s2.t
           GROUP BY 1),
         s4 AS (
           SELECT s3.u, min(e.ts) AS t
           FROM s3 JOIN events e
             ON e.user_id = s3.u AND e.event_type = 'purchase'
                AND e.ts > s3.t
           GROUP BY 1)
         SELECT 1::INT AS step, 'signup' AS step_type,
                count(*) AS n_users, sum(u)::BIGINT AS sum_user FROM s1
         UNION ALL
         SELECT 2, 'view', count(*), sum(u)::BIGINT FROM s2
         UNION ALL
         SELECT 3, 'click', count(*), sum(u)::BIGINT FROM s3
         UNION ALL
         SELECT 4, 'purchase', count(*), sum(u)::BIGINT FROM s4
         ORDER BY step""",

    "q_psi" ->
      """WITH e AS (
           SELECT CASE WHEN o_totalprice < 100000 THEN 0
                       WHEN o_totalprice < 200000 THEN 1
                       WHEN o_totalprice < 300000 THEN 2
                       ELSE 3 END AS bin, count(*) AS count_e
           FROM orders WHERE o_orderdate < TIMESTAMP '1998-01-01'
           GROUP BY 1),
         a AS (
           SELECT CASE WHEN o_totalprice < 100000 THEN 0
                       WHEN o_totalprice < 200000 THEN 1
                       WHEN o_totalprice < 300000 THEN 2
                       ELSE 3 END AS bin, count(*) AS count_a
           FROM orders WHERE o_orderdate >= TIMESTAMP '1998-01-01'
           GROUP BY 1),
         t AS (SELECT (SELECT sum(count_e)::DOUBLE FROM e) te,
                      (SELECT sum(count_a)::DOUBLE FROM a) ta)
         SELECT coalesce(e.bin, a.bin) AS bin,
                coalesce(count_e, 0)::BIGINT AS count_e,
                coalesce(count_a, 0)::BIGINT AS count_a,
                round(CASE WHEN coalesce(count_a, 0) > 0
                            AND coalesce(count_e, 0) > 0
                      THEN (count_a / ta - count_e / te)
                           * ln((count_a / ta) / (count_e / te))
                      ELSE 0 END, 6) AS psi
         FROM e FULL OUTER JOIN a ON e.bin = a.bin, t
         ORDER BY bin""",

    "q_ngram_jaccard" ->
      """WITH norm AS (
           SELECT doc_id,
                  string_split(regexp_replace(lower(trim(text)),
                                              '\s+', ' ', 'g'), ' ') AS tok
           FROM documents WHERE doc_id < 200
         ), sh AS (
           SELECT doc_id,
                  CASE WHEN len(tok) < 3
                       THEN [array_to_string(tok, ' ')]
                       ELSE list_distinct(
                              [array_to_string(tok[i:i+2], ' ')
                               for i in range(1, len(tok) - 1)])
                  END AS sh
           FROM norm
         ), pairs AS (
           SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                  round(CASE WHEN len(list_distinct(
                                     list_concat(a.sh, b.sh))) > 0
                             THEN len(list_intersect(a.sh, b.sh))::DOUBLE /
                                  len(list_distinct(
                                      list_concat(a.sh, b.sh)))
                             ELSE 0.0 END, 6) AS jaccard
           FROM sh a JOIN sh b ON a.doc_id < b.doc_id)
         SELECT id_a, id_b, jaccard FROM pairs
         WHERE jaccard > 0.05 ORDER BY id_a, id_b""",

    "q_dedup_clusters" ->
      // the production chain: portable MinHash-LSH candidates + n-gram
      // Jaccard verification (same CTEs as q_neardup_pairs), then
      // transitive closure via a recursive CTE; component label = min
      // reachable id (tiny clusters, closed fast)
      """WITH RECURSIVE n AS (
           SELECT doc_id,
                  regexp_replace(lower(trim(text)), '\s+', ' ', 'g')
                    AS nm
           FROM documents),
         cp AS (
           SELECT doc_id,
                  [unicode(c)::BIGINT FOR c IN
                   regexp_extract_all(nm, '(?s).')] AS cps,
                  string_split(nm, ' ') AS tok
           FROM n),
         hs AS (
           SELECT doc_id, tok,
                  CASE WHEN len(cps) < 5
                       THEN [list_reduce(list_prepend(0::BIGINT, cps),
                              (a, b) -> ((a * 131) + b) % 1000000007)]
                       ELSE [list_reduce(list_prepend(0::BIGINT,
                               cps[i:i+4]),
                              (a, b) -> ((a * 131) + b) % 1000000007)
                             FOR i IN range(1, len(cps) - 3)]
                  END AS hs
           FROM cp),
         sigs AS (
           SELECT doc_id, tok,
                  [coalesce(list_min(list_filter(hs,
                              h -> (h % 32) = j)),
                            list_min(hs))
                   FOR j IN range(0, 32)] AS sig
           FROM hs),
         sh AS (
           SELECT doc_id, sig,
                  CASE WHEN len(tok) < 3
                       THEN [array_to_string(tok, ' ')]
                       ELSE list_distinct(
                              [array_to_string(tok[i:i+2], ' ')
                               for i in range(1, len(tok) - 1)])
                  END AS sh
           FROM sigs),
         bnd AS (
           SELECT doc_id, b.b AS band,
                  array_to_string(sig[b.b*4+1 : b.b*4+4], ',') AS key
           FROM sh, (SELECT unnest(range(0, 8)) AS b) b),
         bsz AS (
           SELECT doc_id, band, key,
                  count(*) OVER (PARTITION BY band, key) AS n,
                  min(doc_id) OVER (PARTITION BY band, key) AS bmin
           FROM bnd),
         cand AS (
           -- star-expansion guard replay: buckets larger than 256 pair
           -- every member with the bucket minimum only
           SELECT DISTINCT x.doc_id AS id_a, y.doc_id AS id_b
           FROM bsz x JOIN bsz y
             ON x.band = y.band AND x.key = y.key
                AND x.doc_id < y.doc_id
           WHERE x.n <= 256 OR x.doc_id = x.bmin),
         pairs AS (
           SELECT id_a, id_b
           FROM cand JOIN sh a ON cand.id_a = a.doc_id
                     JOIN sh b ON cand.id_b = b.doc_id
           WHERE CASE WHEN len(list_distinct(
                             list_concat(a.sh, b.sh))) > 0
                      THEN len(list_intersect(a.sh, b.sh))::DOUBLE /
                           len(list_distinct(list_concat(a.sh, b.sh)))
                      ELSE 0.0 END >= 0.5),
         edges AS (
           SELECT id_a AS a, id_b AS b FROM pairs
           UNION ALL SELECT id_b, id_a FROM pairs
         ), nodes AS (SELECT DISTINCT a AS id FROM edges),
         reach(id, r) AS (
           SELECT id, id FROM nodes
           UNION
           SELECT e.b, reach.r FROM reach JOIN edges e ON e.a = reach.id
         ),
         comp AS (SELECT id, min(r) AS comp FROM reach GROUP BY 1),
         sizes AS (SELECT comp, count(*) AS sz FROM comp GROUP BY 1)
         SELECT count(*) AS n_components, sum(sz)::BIGINT AS n_nodes,
                max(sz) AS max_size, min(comp) AS min_canonical
         FROM sizes""",

    "q_dedup_survivors" ->
      // same chain through `comp` as q_dedup_clusters, then keep the
      // longest member of each cluster (ties -> min doc_id) and every
      // unclustered doc
      """WITH RECURSIVE n AS (
           SELECT doc_id,
                  regexp_replace(lower(trim(text)), '\s+', ' ', 'g')
                    AS nm
           FROM documents),
         cp AS (
           SELECT doc_id,
                  [unicode(c)::BIGINT FOR c IN
                   regexp_extract_all(nm, '(?s).')] AS cps,
                  string_split(nm, ' ') AS tok
           FROM n),
         hs AS (
           SELECT doc_id, tok,
                  CASE WHEN len(cps) < 5
                       THEN [list_reduce(list_prepend(0::BIGINT, cps),
                              (a, b) -> ((a * 131) + b) % 1000000007)]
                       ELSE [list_reduce(list_prepend(0::BIGINT,
                               cps[i:i+4]),
                              (a, b) -> ((a * 131) + b) % 1000000007)
                             FOR i IN range(1, len(cps) - 3)]
                  END AS hs
           FROM cp),
         sigs AS (
           SELECT doc_id, tok,
                  [coalesce(list_min(list_filter(hs,
                              h -> (h % 32) = j)),
                            list_min(hs))
                   FOR j IN range(0, 32)] AS sig
           FROM hs),
         sh AS (
           SELECT doc_id, sig,
                  CASE WHEN len(tok) < 3
                       THEN [array_to_string(tok, ' ')]
                       ELSE list_distinct(
                              [array_to_string(tok[i:i+2], ' ')
                               for i in range(1, len(tok) - 1)])
                  END AS sh
           FROM sigs),
         bnd AS (
           SELECT doc_id, b.b AS band,
                  array_to_string(sig[b.b*4+1 : b.b*4+4], ',') AS key
           FROM sh, (SELECT unnest(range(0, 8)) AS b) b),
         bsz AS (
           SELECT doc_id, band, key,
                  count(*) OVER (PARTITION BY band, key) AS n,
                  min(doc_id) OVER (PARTITION BY band, key) AS bmin
           FROM bnd),
         cand AS (
           SELECT DISTINCT x.doc_id AS id_a, y.doc_id AS id_b
           FROM bsz x JOIN bsz y
             ON x.band = y.band AND x.key = y.key
                AND x.doc_id < y.doc_id
           WHERE x.n <= 256 OR x.doc_id = x.bmin),
         pairs AS (
           SELECT id_a, id_b
           FROM cand JOIN sh a ON cand.id_a = a.doc_id
                     JOIN sh b ON cand.id_b = b.doc_id
           WHERE CASE WHEN len(list_distinct(
                             list_concat(a.sh, b.sh))) > 0
                      THEN len(list_intersect(a.sh, b.sh))::DOUBLE /
                           len(list_distinct(list_concat(a.sh, b.sh)))
                      ELSE 0.0 END >= 0.5),
         edges AS (
           SELECT id_a AS a, id_b AS b FROM pairs
           UNION ALL SELECT id_b, id_a FROM pairs
         ), nodes AS (SELECT DISTINCT a AS id FROM edges),
         reach(id, r) AS (
           SELECT id, id FROM nodes
           UNION
           SELECT e.b, reach.r FROM reach JOIN edges e ON e.a = reach.id
         ),
         comp AS (SELECT id, min(r) AS comp FROM reach GROUP BY 1),
         ranked AS (
           SELECT c.id,
                  row_number() OVER (
                    PARTITION BY c.comp
                    ORDER BY d.n_chars DESC, c.id) AS rn
           FROM comp c JOIN documents d ON d.doc_id = c.id),
         dropped AS (SELECT id FROM ranked WHERE rn > 1)
         SELECT count(*) AS n_kept,
                sum(n_chars)::BIGINT AS kept_chars,
                sum(doc_id)::BIGINT AS id_checksum
         FROM documents
         WHERE doc_id NOT IN (SELECT id FROM dropped)""",

    "q_dedup_exact" ->
      """WITH g AS (
           SELECT md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'))
                    AS fp,
                  count(*) AS n_docs, min(doc_id) AS canonical_id
           FROM documents GROUP BY 1)
         SELECT n_docs, count(*) AS n_groups,
                min(canonical_id) AS min_canonical
         FROM g GROUP BY 1 ORDER BY 1""",

    "q_text_stats" ->
      """SELECT source, count(*) AS n_docs,
                round(avg(CASE WHEN length(trim(text)) = 0 THEN 0
                          ELSE length(regexp_split_to_array(trim(text),
                                                            '\s+')) END), 6)
                  AS avg_tokens,
                round(avg(length(text)), 6) AS avg_chars
         FROM documents GROUP BY 1 ORDER BY 1""",

    // streaming complete-mode vocabulary replay: the final state table
    // equals the batch frequency head over everything streamed
    "q_stream_topk" ->
      """WITH t AS (
           SELECT unnest(string_split_regex(lower(trim(text)), '\s+'))
             AS token
           FROM documents WHERE text IS NOT NULL)
         SELECT token, count(*) AS term_freq
         FROM t WHERE token <> ''
         GROUP BY 1 ORDER BY term_freq DESC, token LIMIT 20""",

    "q_vocab_topk" ->
      """WITH t AS (
           SELECT doc_id,
                  unnest(string_split_regex(lower(trim(text)), '\s+'))
                    AS token
           FROM documents)
         SELECT token, count(*) AS term_freq,
                count(DISTINCT doc_id) AS doc_freq
         FROM t WHERE token <> ''
         GROUP BY 1 ORDER BY term_freq DESC, token LIMIT 20""",

    "q_fingerprint" ->
      // polynomial rolling hash over code points of normalized text;
      // DuckDB unicode() == Spark ascii() (full code point)
      """WITH f AS (
           SELECT list_reduce(
                    list_prepend(0::BIGINT,
                      [unicode(c)::BIGINT FOR c IN regexp_extract_all(
                         regexp_replace(lower(trim(text)), '\s+', ' ', 'g'),
                         '(?s).')]),
                    (a, b) -> (a * 131 + b) % 1000000007) AS fp
           FROM documents)
         SELECT count(DISTINCT fp) AS n_distinct, count(*) AS n_docs,
                sum(fp)::BIGINT AS fp_sum
         FROM f""",

    "q_corpus_report" ->
      """WITH f AS (
           SELECT source, lang, text,
                  CASE WHEN text IS NULL THEN NULL ELSE
                    list_reduce(list_prepend(0::BIGINT,
                      [unicode(c)::BIGINT FOR c IN regexp_extract_all(
                         regexp_replace(lower(trim(text)), '\s+', ' ',
                                        'g'),
                         '(?s).')]),
                      (a, b) -> (a * 131 + b) % 1000000007) END AS fp,
                  CASE WHEN text IS NULL OR length(trim(text)) = 0
                       THEN 0
                       ELSE length(regexp_split_to_array(trim(text),
                                                         '\s+'))
                  END AS tk,
                  COALESCE(length(text), 0) AS ch
           FROM documents)
         SELECT source, count(*) AS n_docs,
                sum(CASE WHEN text IS NULL THEN 1 ELSE 0 END)::BIGINT
                  AS n_null_text,
                sum(tk)::BIGINT AS total_tokens,
                sum(ch)::BIGINT AS total_chars,
                count(DISTINCT fp) AS n_unique_fp,
                count(DISTINCT lang) AS n_langs
         FROM f GROUP BY 1 ORDER BY 1""",

    "q_quality_score" ->
      """WITH q AS (
           SELECT source,
                  length(text)::DOUBLE AS n_chars,
                  (CASE WHEN text IS NULL OR length(trim(text)) = 0 THEN 0
                        ELSE length(regexp_split_to_array(trim(text),
                                                          '\s+'))
                   END)::DOUBLE AS n_tokens,
                  length(regexp_extract_all(text,
                    '[^A-Za-z0-9\s]'))::DOUBLE AS n_punct,
                  length(list_intersect(
                    string_split_regex(lower(text), '\s+'),
                    ['the','and','of','to','a','in','is','that','for',
                     'with']))::DOUBLE AS n_stop
           FROM documents),
         feat AS (
           SELECT source,
                  CASE WHEN n_tokens > 0
                       THEN (n_chars - (n_tokens - 1)) / n_tokens
                       ELSE 0 END AS mean_token_len,
                  CASE WHEN n_chars > 0 THEN n_punct / n_chars
                       ELSE 0 END AS punct_ratio,
                  CASE WHEN n_tokens > 0 THEN n_stop / n_tokens
                       ELSE 0 END AS stopword_ratio,
                  n_tokens
           FROM q),
         scored AS (
           SELECT source, punct_ratio, stopword_ratio,
                  (CASE WHEN n_tokens >= 10 AND n_tokens <= 100000
                        THEN 0.3 ELSE 0.0 END)
                + (CASE WHEN mean_token_len >= 2 AND mean_token_len <= 12
                        THEN 0.3 ELSE 0.0 END)
                + (CASE WHEN punct_ratio <= 0.2 THEN 0.2 ELSE 0.0 END)
                + (CASE WHEN stopword_ratio >= 0.05 THEN 0.2 ELSE 0.0 END)
                  AS quality
           FROM feat)
         SELECT source, count(*) AS n_docs,
                round(avg(quality), 6) AS avg_quality,
                round(avg(punct_ratio), 6) AS avg_punct_ratio,
                round(avg(stopword_ratio), 6) AS avg_stopword_ratio
         FROM scored GROUP BY 1 ORDER BY 1""",

    "q_subword_count" ->
      """WITH s AS (
           SELECT source,
                  CASE WHEN text IS NULL THEN 0
                       ELSE length(regexp_extract_all(text,
                         '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]'))
                  END AS n
           FROM documents)
         SELECT source, count(*) AS n_docs,
                sum(n)::BIGINT AS total_subwords,
                round(avg(n), 6) AS avg_subwords
         FROM s GROUP BY 1 ORDER BY 1""",

    "q_lang_id" ->
      """WITH h AS (
           SELECT lang, text IS NULL AS is_null,
                  length(regexp_extract_all(text,
                    '[\x{4e00}-\x{9fff}]')) AS cjk,
                  length(list_intersect(
                    string_split_regex(lower(text), '\s+'),
                    ['the','and','of','to','a','in','is','that','for',
                     'with'])) AS h_en,
                  length(list_intersect(
                    string_split_regex(lower(text), '\s+'),
                    ['el','la','de','que','y','en','un','los','del',
                     'las'])) AS h_es,
                  length(list_intersect(
                    string_split_regex(lower(text), '\s+'),
                    ['der','die','und','das','ist','von','den','mit',
                     'ein','zu'])) AS h_de,
                  length(list_intersect(
                    string_split_regex(lower(text), '\s+'),
                    ['le','la','les','de','et','un','une','du','des',
                     'est'])) AS h_fr
           FROM documents),
         p AS (
           SELECT lang,
                  CASE WHEN is_null THEN 'und'
                       WHEN cjk > 0 THEN 'zh'
                       WHEN greatest(h_en, h_es, h_de, h_fr) = 0 THEN 'und'
                       WHEN h_en = greatest(h_en, h_es, h_de, h_fr)
                         THEN 'en'
                       WHEN h_es = greatest(h_en, h_es, h_de, h_fr)
                         THEN 'es'
                       WHEN h_de = greatest(h_en, h_es, h_de, h_fr)
                         THEN 'de'
                       ELSE 'fr' END AS pred
           FROM h)
         SELECT lang, pred, count(*) AS n
         FROM p GROUP BY 1, 2 ORDER BY 1, 2""",

    "q_drift_ztest" ->
      """WITH b AS (
           SELECT CASE WHEN o_totalprice < 100000 THEN 0
                       WHEN o_totalprice < 250000 THEN 1
                       ELSE 2 END AS bin,
                  CASE WHEN o_orderstatus = 'F' THEN 1.0 ELSE 0.0 END AS y,
                  (o_orderdate < TIMESTAMP '1998-01-01') AS is_e
           FROM orders),
         g AS (
           SELECT bin,
                  sum(CASE WHEN is_e THEN y ELSE 0 END) AS e1,
                  sum(CASE WHEN is_e THEN 1 - y ELSE 0 END) AS ne1,
                  sum(CASE WHEN NOT is_e THEN y ELSE 0 END) AS e2,
                  sum(CASE WHEN NOT is_e THEN 1 - y ELSE 0 END) AS ne2
           FROM b GROUP BY 1),
         z AS (
           SELECT bin,
                  e1 / (e1 + ne1) AS p1, e2 / (e2 + ne2) AS p2,
                  (e1 + e2) / (e1 + ne1 + e2 + ne2) AS p,
                  e1 + ne1 AS n1, e2 + ne2 AS n2
           FROM g)
         SELECT bin, round(p1, 6) AS rate_e, round(p2, 6) AS rate_a,
                round(abs((p1 - p2)
                          / sqrt(p * (1 - p) * (1 / n1 + 1 / n2))), 6) AS z
         FROM z ORDER BY bin""",

    "q_outlier_hdi" ->
      // shortest 50%-mass interval from order statistics, k=1.5 expansion
      """WITH v AS (
           SELECT l_extendedprice::DOUBLE AS x FROM lineitem
           WHERE l_extendedprice IS NOT NULL),
         s AS (SELECT x, row_number() OVER (ORDER BY x) AS rn FROM v),
         params AS (
           SELECT count(*) AS n,
                  CAST(ceil(0.5 * count(*)) AS BIGINT) AS m
           FROM v),
         lo AS (
           -- equi-joinable offset column (a 3-relation join condition
           -- would nested-loop over n^2 rows)
           SELECT s.x AS lo, s.rn + p.m AS rn2, s.rn
           FROM s, params p),
         iv AS (
           SELECT lo.lo, s2.x AS hi
           FROM lo JOIN s s2 ON s2.rn = lo.rn2
           ORDER BY s2.x - lo.lo, lo.rn LIMIT 1),
         b AS (
           SELECT lo - 1.5 * (hi - lo) AS lb, hi + 1.5 * (hi - lo) AS ub
           FROM iv)
         SELECT round(lb, 6) AS lower_bound, round(ub, 6) AS upper_bound,
                (SELECT count(*) FROM lineitem, b
                 WHERE l_extendedprice > ub OR l_extendedprice < lb)
                  AS n_outliers,
                (SELECT count(*) FROM lineitem) AS n
         FROM b""",

    "q_reg_metrics" ->
      """WITH e AS (
           SELECT l_extendedprice::DOUBLE AS y,
                  (l_quantity * 1000.0)::DOUBLE AS p
           FROM lineitem),
         agg AS (
           SELECT avg(abs(y - p)) AS mae,
                  median(abs(y - p))::DOUBLE AS mdae,
                  avg(abs((y - p) / y)) AS mape,
                  avg((y - p) / y) AS mpe,
                  avg(abs(y - p) / (abs(y) + abs(p))) AS smape,
                  median(abs(y - p) / (abs(y) + abs(p)))::DOUBLE
                    AS smdape,
                  sum((y - p) * (y - p)) AS sse,
                  sum(y * y) - sum(y) * sum(y) / count(*) AS sst
           FROM e)
         SELECT round(mae, 2) AS mae, round(mdae, 2) AS mdae,
                round(mape, 6) AS mape, round(mpe, 6) AS mpe,
                round(smape, 6) AS smape, round(smdape, 6) AS smdape,
                round(1.0 - sse / sst, 6) AS r2
         FROM agg""",

    "q_class_metrics" ->
      """WITH c AS (
           SELECT sum(CASE WHEN l_returnflag = 'R'
                            AND l_extendedprice > 50000
                           THEN 1.0 ELSE 0.0 END) AS tp,
                  sum(CASE WHEN l_returnflag <> 'R'
                            AND l_extendedprice <= 50000
                           THEN 1.0 ELSE 0.0 END) AS tn,
                  sum(CASE WHEN l_returnflag <> 'R'
                            AND l_extendedprice > 50000
                           THEN 1.0 ELSE 0.0 END) AS fp,
                  sum(CASE WHEN l_returnflag = 'R'
                            AND l_extendedprice <= 50000
                           THEN 1.0 ELSE 0.0 END) AS fn
           FROM lineitem)
         SELECT round(tp / (tp + fn), 6) AS tpr,
                round(tn / (fp + tn), 6) AS tnr,
                round(0.5 * (tp / (tp + fn) + tn / (fp + tn)), 6)
                  AS balanced_acc
         FROM c""",

    "q_yquantile_outlier" ->
      """WITH s AS (
           SELECT quantile_cont(l_extendedprice, 0.25)::DOUBLE s1,
                  quantile_cont(l_extendedprice, 0.50)::DOUBLE s2,
                  quantile_cont(l_extendedprice, 0.75)::DOUBLE s3
           FROM lineitem),
         b AS (
           SELECT l_quantity::DOUBLE AS y,
                  CASE WHEN l_extendedprice < s1 THEN 0
                       WHEN l_extendedprice < s2 THEN 1
                       WHEN l_extendedprice < s3 THEN 2
                       ELSE 3 END AS bin
           FROM lineitem, s),
         m AS (SELECT bin, median(y)::DOUBLE AS med FROM b GROUP BY 1),
         d AS (
           SELECT b.bin, median(abs(y - med))::DOUBLE AS mad
           FROM b JOIN m USING (bin) GROUP BY 1)
         SELECT sum(CASE WHEN abs(0.6745 * (y - med) / mad) > 3.5
                         THEN 1 ELSE 0 END)::BIGINT AS n_outliers,
                count(*) AS n
         FROM b JOIN m USING (bin) JOIN d USING (bin)""",

    "q_frame_sampling" ->
      """WITH p AS (
           SELECT sha256(doc_id::VARCHAR || '-payload') AS pay
           FROM documents WHERE doc_id < 50),
         fr AS (
           SELECT pay, f AS frame,
                  pay[1 + f * (length(pay) // 4) :
                      f * (length(pay) // 4)
                        + greatest(1, length(pay) // 4)] AS frame_bytes
           FROM p, (SELECT unnest(range(4)) AS f))
         SELECT count(*) AS n_frames,
                count(DISTINCT pay) AS n_docs,
                sum(length(frame_bytes))::BIGINT AS total_bytes,
                sum(unicode(frame_bytes[1]))::BIGINT AS first_byte_sum
         FROM fr""",

    "q_multimodal_features" ->
      """WITH p AS (
           SELECT sha256(doc_id::VARCHAR || '-payload') AS pay
           FROM documents WHERE doc_id < 100),
         f AS (
           SELECT length(pay) AS n_bytes, pay,
                  (unicode(pay[1]) * 16777216 + unicode(pay[2]) * 65536
                   + unicode(pay[3]) * 256 + unicode(pay[4])) % 4096
                    AS width,
                  (unicode(pay[5]) * 16777216 + unicode(pay[6]) * 65536
                   + unicode(pay[7]) * 256 + unicode(pay[8])) % 4096
                    AS height
           FROM p)
         SELECT count(*) AS n_rows, sum(n_bytes)::BIGINT AS total_bytes,
                count(DISTINCT pay) AS n_ids,
                sum(width)::BIGINT AS width_sum,
                sum(height)::BIGINT AS height_sum
         FROM f""",

    "q_embed_topk" ->
      """SELECT vec_id,
                round(list_sum(embedding::DOUBLE[])
                      / (sqrt(list_dot_product(embedding::DOUBLE[],
                                               embedding::DOUBLE[]))
                         * sqrt(64.0)), 6) AS cosine
         FROM embeddings
         ORDER BY cosine DESC, vec_id LIMIT 10""",

    // embed-health replay: same milli-quantized integer norms (double
    // cast before the grid, integer sums commute)
    "q_embed_health" ->
      """WITH q AS (
           SELECT CASE WHEN embedding IS NULL THEN 1 ELSE 0 END
                    AS is_null,
                  CASE WHEN embedding IS NOT NULL
                        AND len(embedding) <> 64 THEN 1 ELSE 0 END
                    AS is_dim,
                  CASE WHEN embedding IS NOT NULL
                        AND len(list_filter(embedding,
                              x -> x IS NULL OR isnan(x)
                                   OR abs(x) > 100000)) > 0
                       THEN 1 ELSE 0 END AS is_bad,
                  CASE WHEN embedding IS NOT NULL
                        AND len(embedding) = 64
                        AND len(list_filter(embedding,
                              x -> x IS NULL OR isnan(x)
                                   OR abs(x) > 100000)) = 0
                       THEN list_sum(list_transform(
                              embedding::DOUBLE[],
                              x -> floor(x * 1000)::BIGINT *
                                   floor(x * 1000)::BIGINT))
                  END AS qn
           FROM embeddings)
         SELECT count(*)::BIGINT AS n_vecs,
                sum(is_null)::BIGINT AS n_null,
                sum(is_dim)::BIGINT AS n_wrong_dim,
                sum(is_bad)::BIGINT AS n_bad_vals,
                sum(CASE WHEN qn = 0 THEN 1 ELSE 0 END)::BIGINT
                  AS n_zero,
                sum(qn)::BIGINT AS qnorm_sum,
                min(qn)::BIGINT AS qnorm_min,
                max(qn)::BIGINT AS qnorm_max
         FROM q""",

    // portable-plane LSH buckets (Lehmer mix mod 2^31-1, bit-exact with
    // LshSigExpr portable mode), then in-bucket exact cosine
    "q_embed_neardup" ->
      (embedSigCte +
      """,
         pairs AS (
           SELECT a.vec_id AS id_a, b.vec_id AS id_b,
                  list_dot_product(a.emb, b.emb)
                    / (sqrt(list_dot_product(a.emb, a.emb))
                       * sqrt(list_dot_product(b.emb, b.emb))) AS cosine
           FROM sig a JOIN sig b
             ON a.sig = b.sig AND a.vec_id < b.vec_id)
         SELECT count(*) AS n_pairs,
                sum(CAST(round(cosine * 1000000) AS BIGINT))::BIGINT
                  AS sum_cosine_micro
         FROM pairs WHERE cosine >= 0.3"""),

    "q_ann_topk" ->
      (embedSigCte +
      """,
         q AS (SELECT vec_id AS qid, emb AS qemb, sig
               FROM sig WHERE vec_id < 20),
         cand AS (
           SELECT q.qid, c.vec_id AS cid,
                  list_dot_product(q.qemb, c.emb)
                    / (sqrt(list_dot_product(q.qemb, q.qemb))
                       * sqrt(list_dot_product(c.emb, c.emb))) AS cosine
           FROM sig c JOIN q ON c.sig = q.sig),
         rk AS (
           SELECT qid, cid, cosine,
                  row_number() OVER (PARTITION BY qid
                                     ORDER BY cosine DESC, cid) AS rank
           FROM cand)
         SELECT count(*) AS n_results,
                count(DISTINCT qid) AS n_queries,
                sum(CAST(round(cosine * 1000000) AS BIGINT))::BIGINT
                  AS sum_cosine_micro
         FROM rk WHERE rank <= 5"""),

    // portable IVF: centroid component = Lehmer mix of (1000+cell, dim)
    // — bit-exact with Similarity.portableCentroids; assignment = argmin
    // d2 (tie-break by cell), probe = 4 nearest cells, rank by exact
    // cosine (ties by cid) — replays ivfTopKPortable end-to-end
    "q_ivf_topk" ->
      """WITH emb AS (
           SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings),
         cent AS (
           SELECT l AS cell,
                  [ (((((((1000+l)*1315423911 + (d-1)*2654435761 + 97531)
                         % 2147483647)
                      * (((1000+l)*1315423911 + (d-1)*2654435761 + 97531)
                         % 2147483647))
                      % 2147483647) * 48271) % 2147483647)
                    * 2.0 / 2147483647.0 - 1.0
                    FOR d IN range(1, 65)] AS ctr
           FROM range(0, 16) t(l)),
         ad AS (
           SELECT vec_id, emb, cell,
                  row_number() OVER (PARTITION BY vec_id
                                     ORDER BY d2, cell) AS rn
           FROM (
             SELECT e.vec_id, e.emb, c.cell,
                    list_reduce(list_prepend(0.0::DOUBLE,
                      [ (e.emb[d] - c.ctr[d]) * (e.emb[d] - c.ctr[d])
                        FOR d IN range(1, 65)]),
                      (a, b) -> a + b) AS d2
             FROM emb e CROSS JOIN cent c) t),
         corpus AS (
           SELECT vec_id AS cid, emb AS cemb, cell FROM ad WHERE rn = 1),
         probes AS (
           SELECT vec_id AS qid, emb AS qemb, cell
           FROM ad WHERE vec_id < 20 AND rn <= 4),
         cand AS (
           SELECT p.qid, c.cid,
                  list_dot_product(p.qemb, c.cemb)
                    / (sqrt(list_dot_product(p.qemb, p.qemb))
                       * sqrt(list_dot_product(c.cemb, c.cemb))) AS cosine
           FROM corpus c JOIN probes p USING (cell)),
         rk AS (
           SELECT qid, cid, cosine,
                  row_number() OVER (PARTITION BY qid
                                     ORDER BY cosine DESC, cid) AS rank
           FROM cand)
         SELECT count(*) AS n_results,
                count(DISTINCT qid) AS n_queries,
                sum(CAST(round(cosine * 1000000) AS BIGINT))::BIGINT
                  AS sum_cosine_micro
         FROM rk WHERE rank <= 5""",

    // SemDeDup replay: same Lehmer IVF cell assignment as q_ivf_topk,
    // then within-cell pairs with cosine >= 0.3 mark the higher id dup
    "q_semantic_dedup" ->
      """WITH emb AS (
           SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings),
         cent AS (
           SELECT l AS cell,
                  [ (((((((1000+l)*1315423911 + (d-1)*2654435761 + 97531)
                         % 2147483647)
                      * (((1000+l)*1315423911 + (d-1)*2654435761 + 97531)
                         % 2147483647))
                      % 2147483647) * 48271) % 2147483647)
                    * 2.0 / 2147483647.0 - 1.0
                    FOR d IN range(1, 65)] AS ctr
           FROM range(0, 16) t(l)),
         ad AS (
           SELECT vec_id, emb, cell,
                  row_number() OVER (PARTITION BY vec_id
                                     ORDER BY d2, cell) AS rn
           FROM (
             SELECT e.vec_id, e.emb, c.cell,
                    list_reduce(list_prepend(0.0::DOUBLE,
                      [ (e.emb[d] - c.ctr[d]) * (e.emb[d] - c.ctr[d])
                        FOR d IN range(1, 65)]),
                      (a, b) -> a + b) AS d2
             FROM emb e CROSS JOIN cent c) t),
         corpus AS (
           SELECT vec_id AS cid, emb AS cemb, cell FROM ad WHERE rn = 1),
         dup AS (
           SELECT DISTINCT b.cid
           FROM corpus a JOIN corpus b
             ON a.cell = b.cell AND a.cid < b.cid
           WHERE list_dot_product(a.cemb, b.cemb)
                   / (sqrt(list_dot_product(a.cemb, a.cemb))
                      * sqrt(list_dot_product(b.cemb, b.cemb))) >= 0.3)
         SELECT count(*) AS n_docs,
                count(d.cid)::BIGINT AS n_dups,
                (count(*) - count(d.cid))::BIGINT AS n_survivors,
                count(DISTINCT c.cell) AS n_cells
         FROM corpus c LEFT JOIN dup d ON c.cid = d.cid""",

    // distributed Lloyd k-means replay — INTEGER-ONLY surface: vectors
    // and Lehmer seed centroids quantize once to floor(x*1e6) BIGINTs;
    // assignment ranks on exact 64-bit integer squared distances (no
    // float fold, so no dependence on evaluation order or FMA);
    // centroid updates are exact BIGINT sums + integer floor-division
    // staying on the 1e-6 grid; empty cells keep the previous centroid
    // (COALESCE). (s - ((s % n) + n) % n) // n is floorDiv: the
    // numerator is made exactly divisible, so truncation == floor.
    "q_embed_clusters" ->
      """WITH emb AS (
           SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings),
         qv AS (
           SELECT vec_id,
                  [ CAST(floor(emb[d] * 1000000.0) AS BIGINT)
                    FOR d IN range(1, 65)] AS q
           FROM emb),
         cent0 AS (
           SELECT l AS cell,
                  [ CAST(floor((
                      (((((((1000+l)*1315423911 + (d-1)*2654435761
                            + 97531) % 2147483647)
                         * (((1000+l)*1315423911 + (d-1)*2654435761
                             + 97531) % 2147483647))
                         % 2147483647) * 48271) % 2147483647)
                      * 2.0 / 2147483647.0 - 1.0) * 1000000.0) AS BIGINT)
                    FOR d IN range(1, 65)] AS qc
           FROM range(0, 8) t(l)),
         a1 AS (
           SELECT vec_id, q, cell FROM (
             SELECT v.vec_id, v.q, c.cell,
                    row_number() OVER (PARTITION BY v.vec_id ORDER BY
                      list_reduce(list_prepend(0::BIGINT,
                        [ (v.q[d] - c.qc[d]) * (v.q[d] - c.qc[d])
                          FOR d IN range(1, 65)]),
                        (a, b) -> a + b), c.cell) AS rn
             FROM qv v CROSS JOIN cent0 c) t WHERE rn = 1),
         s1 AS (
           SELECT cell, d, sum(q[d]) AS s, count(*) AS n
           FROM a1 CROSS JOIN range(1, 65) t(d) GROUP BY cell, d),
         cent1 AS (
           SELECT c0.cell, COALESCE(u.qc, c0.qc) AS qc
           FROM cent0 c0 LEFT JOIN (
             SELECT cell,
                    list((s - ((s % n) + n) % n) // n ORDER BY d) AS qc
             FROM s1 GROUP BY cell) u USING (cell)),
         a2 AS (
           SELECT vec_id, q, cell FROM (
             SELECT v.vec_id, v.q, c.cell,
                    row_number() OVER (PARTITION BY v.vec_id ORDER BY
                      list_reduce(list_prepend(0::BIGINT,
                        [ (v.q[d] - c.qc[d]) * (v.q[d] - c.qc[d])
                          FOR d IN range(1, 65)]),
                        (a, b) -> a + b), c.cell) AS rn
             FROM qv v CROSS JOIN cent1 c) t WHERE rn = 1),
         s2 AS (
           SELECT cell, d, sum(q[d]) AS s, count(*) AS n
           FROM a2 CROSS JOIN range(1, 65) t(d) GROUP BY cell, d),
         cent2 AS (
           SELECT c1.cell, COALESCE(u.qc, c1.qc) AS qc
           FROM cent1 c1 LEFT JOIN (
             SELECT cell,
                    list((s - ((s % n) + n) % n) // n ORDER BY d) AS qc
             FROM s2 GROUP BY cell) u USING (cell)),
         a3 AS (
           SELECT vec_id, q, cell FROM (
             SELECT v.vec_id, v.q, c.cell,
                    row_number() OVER (PARTITION BY v.vec_id ORDER BY
                      list_reduce(list_prepend(0::BIGINT,
                        [ (v.q[d] - c.qc[d]) * (v.q[d] - c.qc[d])
                          FOR d IN range(1, 65)]),
                        (a, b) -> a + b), c.cell) AS rn
             FROM qv v CROSS JOIN cent2 c) t WHERE rn = 1)
         SELECT cell AS cluster, count(*) AS n,
                min(vec_id) AS min_id, max(vec_id) AS max_id,
                sum(list_reduce(list_prepend(0::BIGINT, q),
                                (a, b) -> a + b))::BIGINT AS checksum
         FROM a3 GROUP BY 1 ORDER BY 1""",

    // per-cluster integer-distance outlier replay: the q_embed_clusters
    // integer chain to cent2, winning (cell, d2) per vector, rank d2
    // DESC (ties to lower id) within each cluster, flag the top
    // ceil(round(n * 0.1, 9))
    "q_embed_outliers" ->
      """WITH emb AS (
           SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings),
         qv AS (
           SELECT vec_id,
                  [ CAST(floor(emb[d] * 1000000.0) AS BIGINT)
                    FOR d IN range(1, 65)] AS q
           FROM emb),
         cent0 AS (
           SELECT l AS cell,
                  [ CAST(floor((
                      (((((((1000+l)*1315423911 + (d-1)*2654435761
                            + 97531) % 2147483647)
                         * (((1000+l)*1315423911 + (d-1)*2654435761
                             + 97531) % 2147483647))
                         % 2147483647) * 48271) % 2147483647)
                      * 2.0 / 2147483647.0 - 1.0) * 1000000.0) AS BIGINT)
                    FOR d IN range(1, 65)] AS qc
           FROM range(0, 8) t(l)),
         a1 AS (
           SELECT vec_id, q, cell FROM (
             SELECT v.vec_id, v.q, c.cell,
                    row_number() OVER (PARTITION BY v.vec_id ORDER BY
                      list_reduce(list_prepend(0::BIGINT,
                        [ (v.q[d] - c.qc[d]) * (v.q[d] - c.qc[d])
                          FOR d IN range(1, 65)]),
                        (a, b) -> a + b), c.cell) AS rn
             FROM qv v CROSS JOIN cent0 c) t WHERE rn = 1),
         s1 AS (
           SELECT cell, d, sum(q[d]) AS s, count(*) AS n
           FROM a1 CROSS JOIN range(1, 65) t(d) GROUP BY cell, d),
         cent1 AS (
           SELECT c0.cell, COALESCE(u.qc, c0.qc) AS qc
           FROM cent0 c0 LEFT JOIN (
             SELECT cell,
                    list((s - ((s % n) + n) % n) // n ORDER BY d) AS qc
             FROM s1 GROUP BY cell) u USING (cell)),
         a2 AS (
           SELECT vec_id, q, cell FROM (
             SELECT v.vec_id, v.q, c.cell,
                    row_number() OVER (PARTITION BY v.vec_id ORDER BY
                      list_reduce(list_prepend(0::BIGINT,
                        [ (v.q[d] - c.qc[d]) * (v.q[d] - c.qc[d])
                          FOR d IN range(1, 65)]),
                        (a, b) -> a + b), c.cell) AS rn
             FROM qv v CROSS JOIN cent1 c) t WHERE rn = 1),
         s2 AS (
           SELECT cell, d, sum(q[d]) AS s, count(*) AS n
           FROM a2 CROSS JOIN range(1, 65) t(d) GROUP BY cell, d),
         cent2 AS (
           SELECT c1.cell, COALESCE(u.qc, c1.qc) AS qc
           FROM cent1 c1 LEFT JOIN (
             SELECT cell,
                    list((s - ((s % n) + n) % n) // n ORDER BY d) AS qc
             FROM s2 GROUP BY cell) u USING (cell)),
         a3d AS (
           SELECT vec_id, cell, d2 FROM (
             SELECT vec_id, cell, d2,
                    row_number() OVER (PARTITION BY vec_id
                                       ORDER BY d2, cell) AS rn
             FROM (
               SELECT v.vec_id, c.cell,
                      list_reduce(list_prepend(0::BIGINT,
                        [ (v.q[d] - c.qc[d]) * (v.q[d] - c.qc[d])
                          FOR d IN range(1, 65)]),
                        (a, b) -> a + b) AS d2
               FROM qv v CROSS JOIN cent2 c) x) t WHERE rn = 1),
         rk AS (
           SELECT vec_id, cell, d2,
                  row_number() OVER (PARTITION BY cell
                                     ORDER BY d2 DESC, vec_id) AS rn,
                  count(*) OVER (PARTITION BY cell) AS n
           FROM a3d)
         SELECT cell AS cluster, count(*) AS n,
                sum(CASE WHEN rn <= ceil(round(n * 0.1, 9))
                         THEN 1 ELSE 0 END)::BIGINT AS n_outliers,
                COALESCE(sum(CASE WHEN rn <= ceil(round(n * 0.1, 9))
                                  THEN vec_id END), 0)::BIGINT
                  AS outlier_id_sum,
                max(d2)::BIGINT AS max_d2
         FROM rk GROUP BY 1 ORDER BY 1""",

    // cluster-balanced sample replay: the q_embed_clusters INTEGER-ONLY
    // assignment chain, then the md5-rank stratified sample inside each
    // cluster
    "q_cluster_sample" ->
      """WITH emb AS (
           SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings),
         qv AS (
           SELECT vec_id,
                  [ CAST(floor(emb[d] * 1000000.0) AS BIGINT)
                    FOR d IN range(1, 65)] AS q
           FROM emb),
         cent0 AS (
           SELECT l AS cell,
                  [ CAST(floor((
                      (((((((1000+l)*1315423911 + (d-1)*2654435761
                            + 97531) % 2147483647)
                         * (((1000+l)*1315423911 + (d-1)*2654435761
                             + 97531) % 2147483647))
                         % 2147483647) * 48271) % 2147483647)
                      * 2.0 / 2147483647.0 - 1.0) * 1000000.0) AS BIGINT)
                    FOR d IN range(1, 65)] AS qc
           FROM range(0, 8) t(l)),
         a1 AS (
           SELECT vec_id, q, cell FROM (
             SELECT v.vec_id, v.q, c.cell,
                    row_number() OVER (PARTITION BY v.vec_id ORDER BY
                      list_reduce(list_prepend(0::BIGINT,
                        [ (v.q[d] - c.qc[d]) * (v.q[d] - c.qc[d])
                          FOR d IN range(1, 65)]),
                        (a, b) -> a + b), c.cell) AS rn
             FROM qv v CROSS JOIN cent0 c) t WHERE rn = 1),
         s1 AS (
           SELECT cell, d, sum(q[d]) AS s, count(*) AS n
           FROM a1 CROSS JOIN range(1, 65) t(d) GROUP BY cell, d),
         cent1 AS (
           SELECT c0.cell, COALESCE(u.qc, c0.qc) AS qc
           FROM cent0 c0 LEFT JOIN (
             SELECT cell,
                    list((s - ((s % n) + n) % n) // n ORDER BY d) AS qc
             FROM s1 GROUP BY cell) u USING (cell)),
         a2 AS (
           SELECT vec_id, q, cell FROM (
             SELECT v.vec_id, v.q, c.cell,
                    row_number() OVER (PARTITION BY v.vec_id ORDER BY
                      list_reduce(list_prepend(0::BIGINT,
                        [ (v.q[d] - c.qc[d]) * (v.q[d] - c.qc[d])
                          FOR d IN range(1, 65)]),
                        (a, b) -> a + b), c.cell) AS rn
             FROM qv v CROSS JOIN cent1 c) t WHERE rn = 1),
         s2 AS (
           SELECT cell, d, sum(q[d]) AS s, count(*) AS n
           FROM a2 CROSS JOIN range(1, 65) t(d) GROUP BY cell, d),
         cent2 AS (
           SELECT c1.cell, COALESCE(u.qc, c1.qc) AS qc
           FROM cent1 c1 LEFT JOIN (
             SELECT cell,
                    list((s - ((s % n) + n) % n) // n ORDER BY d) AS qc
             FROM s2 GROUP BY cell) u USING (cell)),
         a3 AS (
           SELECT vec_id, cell FROM (
             SELECT v.vec_id, c.cell,
                    row_number() OVER (PARTITION BY v.vec_id ORDER BY
                      list_reduce(list_prepend(0::BIGINT,
                        [ (v.q[d] - c.qc[d]) * (v.q[d] - c.qc[d])
                          FOR d IN range(1, 65)]),
                        (a, b) -> a + b), c.cell) AS rn
             FROM qv v CROSS JOIN cent2 c) t WHERE rn = 1),
         smp AS (
           SELECT cell, vec_id,
                  row_number() OVER (PARTITION BY cell
                    ORDER BY md5(vec_id::VARCHAR), vec_id) AS rn,
                  count(*) OVER (PARTITION BY cell) AS n
           FROM a3)
         SELECT cell AS cluster, count(*) AS n_sampled,
                min(vec_id) AS min_id, sum(vec_id)::BIGINT AS id_sum
         FROM smp WHERE rn <= ceil(round(n * 0.25, 9))
         GROUP BY 1 ORDER BY 1""",

    // portable PQ: per-subspace Lehmer codebooks (p = 5000 + s*16 + c),
    // argmin encode with (d2, c) tie-break, ADC dot tables, rank by
    // approximate cosine — replays Similarity.pqTopKPortable bit-exactly
    "q_pq_topk" ->
      """WITH emb AS (
           SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings),
         cb AS (
           SELECT s, c, ctr,
                  list_reduce(list_prepend(0.0::DOUBLE,
                    [ ctr[d] * ctr[d] FOR d IN range(1, 17)]),
                    (a, x) -> a + x) AS n2_s
           FROM (
             SELECT s, c,
                    [ (((((((5000 + s*16 + c)*1315423911
                            + (d-1)*2654435761 + 97531) % 2147483647)
                        * (((5000 + s*16 + c)*1315423911
                            + (d-1)*2654435761 + 97531) % 2147483647))
                        % 2147483647) * 48271) % 2147483647)
                      * 2.0 / 2147483647.0 - 1.0
                      FOR d IN range(1, 17)] AS ctr
             FROM range(0, 4) t1(s) CROSS JOIN range(0, 16) t2(c))),
         enc0 AS (
           SELECT e.vec_id, b.s, b.c,
                  list_reduce(list_prepend(0.0::DOUBLE,
                    [ (e.emb[b.s*16 + d] - b.ctr[d])
                      * (e.emb[b.s*16 + d] - b.ctr[d])
                      FOR d IN range(1, 17)]),
                    (a, x) -> a + x) AS d2
           FROM emb e CROSS JOIN cb b),
         enc AS (
           SELECT vec_id AS cid, s, c AS code
           FROM (SELECT vec_id, s, c,
                        row_number() OVER (PARTITION BY vec_id, s
                                           ORDER BY d2, c) AS rn
                 FROM enc0)
           WHERE rn = 1),
         parts AS (
           SELECT q.vec_id AS qid, en.cid, en.s,
                  list_reduce(list_prepend(0.0::DOUBLE,
                    [ q.emb[en.s*16 + d] * b.ctr[d]
                      FOR d IN range(1, 17)]),
                    (a, x) -> a + x) AS dot_s,
                  b.n2_s
           FROM enc en
           JOIN cb b ON b.s = en.s AND b.c = en.code
           CROSS JOIN (SELECT vec_id, emb FROM emb
                       WHERE vec_id < 20) q),
         sc AS (
           SELECT qid, cid,
                  list_reduce(list_prepend(0.0::DOUBLE,
                    list(dot_s ORDER BY s)), (a, x) -> a + x) AS dotp,
                  list_reduce(list_prepend(0.0::DOUBLE,
                    list(n2_s ORDER BY s)), (a, x) -> a + x) AS cn2
           FROM parts GROUP BY qid, cid),
         qn AS (
           SELECT vec_id AS qid,
                  sqrt(list_dot_product(emb, emb)) AS qnorm
           FROM emb WHERE vec_id < 20),
         rk AS (
           SELECT qid, cid, cosine_pq,
                  row_number() OVER (PARTITION BY qid
                    ORDER BY cosine_pq DESC, cid) AS rank
           FROM (SELECT s.qid, s.cid,
                        CASE WHEN q.qnorm > 0 AND s.cn2 > 0
                             THEN s.dotp / (q.qnorm * sqrt(s.cn2))
                             ELSE 0.0 END AS cosine_pq
                 FROM sc s JOIN qn q USING (qid)))
         SELECT count(*) AS n_results,
                count(DISTINCT qid) AS n_queries,
                sum(CAST(round(cosine_pq * 1000000) AS BIGINT))::BIGINT
                  AS sum_cosine_pq_micro
         FROM rk WHERE rank <= 5""",

    "q_ann_refined" ->
      // same ADC replay as q_pq_topk through `rk`, then the refine
      // stage: exact cosine on the top-20 pool, re-ranked on the
      // 6-digit-rounded score
      """WITH emb AS (
           SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings),
         cb AS (
           SELECT s, c, ctr,
                  list_reduce(list_prepend(0.0::DOUBLE,
                    [ ctr[d] * ctr[d] FOR d IN range(1, 17)]),
                    (a, x) -> a + x) AS n2_s
           FROM (
             SELECT s, c,
                    [ (((((((5000 + s*16 + c)*1315423911
                            + (d-1)*2654435761 + 97531) % 2147483647)
                        * (((5000 + s*16 + c)*1315423911
                            + (d-1)*2654435761 + 97531) % 2147483647))
                        % 2147483647) * 48271) % 2147483647)
                      * 2.0 / 2147483647.0 - 1.0
                      FOR d IN range(1, 17)] AS ctr
             FROM range(0, 4) t1(s) CROSS JOIN range(0, 16) t2(c))),
         enc0 AS (
           SELECT e.vec_id, b.s, b.c,
                  list_reduce(list_prepend(0.0::DOUBLE,
                    [ (e.emb[b.s*16 + d] - b.ctr[d])
                      * (e.emb[b.s*16 + d] - b.ctr[d])
                      FOR d IN range(1, 17)]),
                    (a, x) -> a + x) AS d2
           FROM emb e CROSS JOIN cb b),
         enc AS (
           SELECT vec_id AS cid, s, c AS code
           FROM (SELECT vec_id, s, c,
                        row_number() OVER (PARTITION BY vec_id, s
                                           ORDER BY d2, c) AS rn
                 FROM enc0)
           WHERE rn = 1),
         parts AS (
           SELECT q.vec_id AS qid, en.cid, en.s,
                  list_reduce(list_prepend(0.0::DOUBLE,
                    [ q.emb[en.s*16 + d] * b.ctr[d]
                      FOR d IN range(1, 17)]),
                    (a, x) -> a + x) AS dot_s,
                  b.n2_s
           FROM enc en
           JOIN cb b ON b.s = en.s AND b.c = en.code
           CROSS JOIN (SELECT vec_id, emb FROM emb
                       WHERE vec_id < 20) q),
         sc AS (
           SELECT qid, cid,
                  list_reduce(list_prepend(0.0::DOUBLE,
                    list(dot_s ORDER BY s)), (a, x) -> a + x) AS dotp,
                  list_reduce(list_prepend(0.0::DOUBLE,
                    list(n2_s ORDER BY s)), (a, x) -> a + x) AS cn2
           FROM parts GROUP BY qid, cid),
         qn AS (
           SELECT vec_id AS qid,
                  sqrt(list_dot_product(emb, emb)) AS qnorm
           FROM emb WHERE vec_id < 20),
         rk AS (
           SELECT qid, cid, cosine_pq,
                  row_number() OVER (PARTITION BY qid
                    ORDER BY cosine_pq DESC, cid) AS rank
           FROM (SELECT s.qid, s.cid,
                        CASE WHEN q.qnorm > 0 AND s.cn2 > 0
                             THEN s.dotp / (q.qnorm * sqrt(s.cn2))
                             ELSE 0.0 END AS cosine_pq
                 FROM sc s JOIN qn q USING (qid))),
         cand AS (SELECT qid, cid FROM rk WHERE rank <= 20),
         ex AS (
           SELECT c.qid, c.cid,
                  round(CASE
                    WHEN list_dot_product(ce.emb, ce.emb) > 0
                     AND list_dot_product(qe.emb, qe.emb) > 0
                    THEN list_dot_product(ce.emb, qe.emb) /
                         (sqrt(list_dot_product(ce.emb, ce.emb)) *
                          sqrt(list_dot_product(qe.emb, qe.emb)))
                    ELSE 0.0 END, 6) AS cosine
           FROM cand c JOIN emb ce ON ce.vec_id = c.cid
                       JOIN emb qe ON qe.vec_id = c.qid),
         fin AS (
           SELECT qid, cid, cosine,
                  row_number() OVER (PARTITION BY qid
                    ORDER BY cosine DESC, cid) AS rank
           FROM ex)
         SELECT qid, cid, cosine, rank FROM fin WHERE rank <= 5""",

    // IVF-PQ: the q_ivf_topk cell-assignment CTEs (Lehmer centroids,
    // p = 1000+l) composed with the q_pq_topk encode/ADC CTEs (Lehmer
    // codebooks, p = 5000 + s*16 + c); scoring runs only inside the
    // nProbe=4 probed cells
    "q_ivfpq_topk" ->
      """WITH emb AS (
           SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings),
         cent AS (
           SELECT l AS cell,
                  [ (((((((1000+l)*1315423911 + (d-1)*2654435761 + 97531)
                         % 2147483647)
                      * (((1000+l)*1315423911 + (d-1)*2654435761 + 97531)
                         % 2147483647))
                      % 2147483647) * 48271) % 2147483647)
                    * 2.0 / 2147483647.0 - 1.0
                    FOR d IN range(1, 65)] AS ctr
           FROM range(0, 16) t(l)),
         ad AS (
           SELECT vec_id, emb, cell,
                  row_number() OVER (PARTITION BY vec_id
                                     ORDER BY d2, cell) AS rn
           FROM (
             SELECT e.vec_id, e.emb, c.cell,
                    list_reduce(list_prepend(0.0::DOUBLE,
                      [ (e.emb[d] - c.ctr[d]) * (e.emb[d] - c.ctr[d])
                        FOR d IN range(1, 65)]),
                      (a, b) -> a + b) AS d2
             FROM emb e CROSS JOIN cent c) t),
         corpus AS (
           SELECT vec_id AS cid, cell FROM ad WHERE rn = 1),
         cb AS (
           SELECT s, c, ctr,
                  list_reduce(list_prepend(0.0::DOUBLE,
                    [ ctr[d] * ctr[d] FOR d IN range(1, 17)]),
                    (a, x) -> a + x) AS n2_s
           FROM (
             SELECT s, c,
                    [ (((((((5000 + s*16 + c)*1315423911
                            + (d-1)*2654435761 + 97531) % 2147483647)
                        * (((5000 + s*16 + c)*1315423911
                            + (d-1)*2654435761 + 97531) % 2147483647))
                        % 2147483647) * 48271) % 2147483647)
                      * 2.0 / 2147483647.0 - 1.0
                      FOR d IN range(1, 17)] AS ctr
             FROM range(0, 4) t1(s) CROSS JOIN range(0, 16) t2(c))),
         enc AS (
           SELECT vec_id AS cid, s, c AS code
           FROM (SELECT e.vec_id, b.s, b.c,
                        row_number() OVER (PARTITION BY e.vec_id, b.s
                          ORDER BY list_reduce(list_prepend(0.0::DOUBLE,
                            [ (e.emb[b.s*16 + d] - b.ctr[d])
                              * (e.emb[b.s*16 + d] - b.ctr[d])
                              FOR d IN range(1, 17)]),
                            (a, x) -> a + x), b.c) AS rn
                 FROM emb e CROSS JOIN cb b)
           WHERE rn = 1),
         probes AS (
           SELECT vec_id AS qid, emb AS qemb, cell
           FROM ad WHERE vec_id < 20 AND rn <= 4),
         parts AS (
           SELECT p.qid, co.cid, en.s,
                  list_reduce(list_prepend(0.0::DOUBLE,
                    [ p.qemb[en.s*16 + d] * b.ctr[d]
                      FOR d IN range(1, 17)]),
                    (a, x) -> a + x) AS dot_s,
                  b.n2_s
           FROM probes p
           JOIN corpus co USING (cell)
           JOIN enc en ON en.cid = co.cid
           JOIN cb b ON b.s = en.s AND b.c = en.code),
         sc AS (
           SELECT qid, cid,
                  list_reduce(list_prepend(0.0::DOUBLE,
                    list(dot_s ORDER BY s)), (a, x) -> a + x) AS dotp,
                  list_reduce(list_prepend(0.0::DOUBLE,
                    list(n2_s ORDER BY s)), (a, x) -> a + x) AS cn2
           FROM parts GROUP BY qid, cid),
         qn AS (
           SELECT vec_id AS qid,
                  sqrt(list_dot_product(emb, emb)) AS qnorm
           FROM emb WHERE vec_id < 20),
         rk AS (
           SELECT qid, cid, cosine_pq,
                  row_number() OVER (PARTITION BY qid
                    ORDER BY cosine_pq DESC, cid) AS rank
           FROM (SELECT s.qid, s.cid,
                        CASE WHEN q.qnorm > 0 AND s.cn2 > 0
                             THEN s.dotp / (q.qnorm * sqrt(s.cn2))
                             ELSE 0.0 END AS cosine_pq
                 FROM sc s JOIN qn q USING (qid)))
         SELECT count(*) AS n_results,
                count(DISTINCT qid) AS n_queries,
                sum(CAST(round(cosine_pq * 1000000) AS BIGINT))::BIGINT
                  AS sum_cosine_pq_micro
         FROM rk WHERE rank <= 5""",

    // portable SimHash: token hash = (rk131 mod 1e9+7) << 30 | (rk137 mod
    // 998244353) over code points — bit-exact with SimHash64Expr portable
    "q_simhash" ->
      """WITH n AS (
           SELECT regexp_replace(lower(trim(text)), '\s+', ' ', 'g') AS nm
           FROM documents),
         h AS (
           SELECT [ (list_reduce(list_prepend(0::BIGINT,
                      [unicode(c)::BIGINT FOR c IN
                       regexp_extract_all(t, '(?s).')]),
                      (a, b) -> ((a * 131) + b) % 1000000007) << 30)
                    | list_reduce(list_prepend(0::BIGINT,
                      [unicode(c)::BIGINT FOR c IN
                       regexp_extract_all(t, '(?s).')]),
                      (a, b) -> ((a * 137) + b) % 998244353)
                    FOR t IN string_split(nm, ' ')] AS hs
           FROM n),
         s AS (
           SELECT list_sum([CASE WHEN list_sum(
                      [CASE WHEN ((hh >> b) & 1) = 1 THEN 1 ELSE -1 END
                       FOR hh IN hs]) > 0
                    THEN (1::BIGINT << b) ELSE 0::BIGINT END
                    FOR b IN range(0, 64)]) AS sig
           FROM h)
         SELECT bit_count(sig)::INT AS popcount, count(*) AS n
         FROM s GROUP BY 1 ORDER BY 1""",

    "q_minhash_bands" -> minhashBandsOracle,

    // production LSH -> verify chain: minhash candidates (as in
    // q_minhash_bands) filtered by word-3-gram Jaccard >= 0.5 (as in
    // q_ngram_jaccard) over the WHOLE corpus
    "q_neardup_pairs" ->
      """WITH n AS (
           SELECT doc_id,
                  regexp_replace(lower(trim(text)), '\s+', ' ', 'g')
                    AS nm
           FROM documents),
         cp AS (
           SELECT doc_id,
                  [unicode(c)::BIGINT FOR c IN
                   regexp_extract_all(nm, '(?s).')] AS cps,
                  string_split(nm, ' ') AS tok
           FROM n),
         hs AS (
           SELECT doc_id, tok,
                  CASE WHEN len(cps) < 5
                       THEN [list_reduce(list_prepend(0::BIGINT, cps),
                              (a, b) -> ((a * 131) + b) % 1000000007)]
                       ELSE [list_reduce(list_prepend(0::BIGINT,
                               cps[i:i+4]),
                              (a, b) -> ((a * 131) + b) % 1000000007)
                             FOR i IN range(1, len(cps) - 3)]
                  END AS hs
           FROM cp),
         sigs AS (
           SELECT doc_id, tok,
                  [coalesce(list_min(list_filter(hs,
                              h -> (h % 32) = j)),
                            list_min(hs))
                   FOR j IN range(0, 32)] AS sig
           FROM hs),
         sh AS (
           SELECT doc_id, sig,
                  CASE WHEN len(tok) < 3
                       THEN [array_to_string(tok, ' ')]
                       ELSE list_distinct(
                              [array_to_string(tok[i:i+2], ' ')
                               for i in range(1, len(tok) - 1)])
                  END AS sh
           FROM sigs),
         bnd AS (
           SELECT doc_id, b.b AS band,
                  array_to_string(sig[b.b*4+1 : b.b*4+4], ',') AS key
           FROM sh, (SELECT unnest(range(0, 8)) AS b) b),
         bsz AS (
           SELECT doc_id, band, key,
                  count(*) OVER (PARTITION BY band, key) AS n,
                  min(doc_id) OVER (PARTITION BY band, key) AS bmin
           FROM bnd),
         cand AS (
           -- star-expansion guard replay: buckets larger than 256 pair
           -- every member with the bucket minimum only
           SELECT DISTINCT x.doc_id AS id_a, y.doc_id AS id_b
           FROM bsz x JOIN bsz y
             ON x.band = y.band AND x.key = y.key
                AND x.doc_id < y.doc_id
           WHERE x.n <= 256 OR x.doc_id = x.bmin),
         ver AS (
           SELECT id_a, id_b,
                  CASE WHEN len(list_distinct(
                              list_concat(a.sh, b.sh))) > 0
                       THEN len(list_intersect(a.sh, b.sh))::DOUBLE /
                            len(list_distinct(list_concat(a.sh, b.sh)))
                       ELSE 0.0 END AS jaccard
           FROM cand JOIN sh a ON cand.id_a = a.doc_id
                     JOIN sh b ON cand.id_b = b.doc_id)
         SELECT count(*) AS n_pairs,
                count(DISTINCT id_a) AS n_left_docs,
                sum(CAST(round(jaccard * 1000000) AS BIGINT))::BIGINT
                  AS sum_jaccard_micro
         FROM ver WHERE jaccard >= 0.5""",

    // cross-corpus near-dup replay: the q_neardup_pairs MinHash chain
    // over the whole corpus, candidates restricted to batch x snapshot
    // with the per-bucket snapshot cap (rank by id, keep <= 32), then
    // jaccard verify and the batch anti-join
    "q_cross_neardup" ->
      """WITH n AS (
           SELECT doc_id, doc_id % 3 = 0 AS isb,
                  regexp_replace(lower(trim(text)), '\s+', ' ', 'g')
                    AS nm
           FROM documents WHERE text IS NOT NULL),
         cp AS (
           SELECT doc_id, isb,
                  [unicode(c)::BIGINT FOR c IN
                   regexp_extract_all(nm, '(?s).')] AS cps,
                  string_split(nm, ' ') AS tok
           FROM n),
         hs AS (
           SELECT doc_id, isb, tok,
                  CASE WHEN len(cps) < 5
                       THEN [list_reduce(list_prepend(0::BIGINT, cps),
                              (a, b) -> ((a * 131) + b) % 1000000007)]
                       ELSE [list_reduce(list_prepend(0::BIGINT,
                               cps[i:i+4]),
                              (a, b) -> ((a * 131) + b) % 1000000007)
                             FOR i IN range(1, len(cps) - 3)]
                  END AS hs
           FROM cp),
         sigs AS (
           SELECT doc_id, isb, tok,
                  [coalesce(list_min(list_filter(hs,
                              h -> (h % 32) = j)),
                            list_min(hs))
                   FOR j IN range(0, 32)] AS sig
           FROM hs),
         sh AS (
           SELECT doc_id, isb, sig,
                  CASE WHEN len(tok) < 3
                       THEN [array_to_string(tok, ' ')]
                       ELSE list_distinct(
                              [array_to_string(tok[i:i+2], ' ')
                               for i in range(1, len(tok) - 1)])
                  END AS sh
           FROM sigs),
         bnd AS (
           SELECT doc_id, isb, b.b AS band,
                  array_to_string(sig[b.b*4+1 : b.b*4+4], ',') AS key
           FROM sh, (SELECT unnest(range(0, 8)) AS b) b),
         sbnd AS (
           SELECT doc_id, band, key,
                  row_number() OVER (PARTITION BY band, key
                                     ORDER BY doc_id) AS rk
           FROM bnd WHERE NOT isb),
         cand AS (
           SELECT DISTINCT b.doc_id AS id_b, s.doc_id AS id_s
           FROM bnd b JOIN sbnd s
             ON b.band = s.band AND b.key = s.key AND s.rk <= 32
           WHERE b.isb),
         flg AS (
           SELECT DISTINCT c.id_b
           FROM cand c JOIN sh a ON a.doc_id = c.id_b
                       JOIN sh b2 ON b2.doc_id = c.id_s
           WHERE CASE WHEN len(list_distinct(
                             list_concat(a.sh, b2.sh))) > 0
                      THEN len(list_intersect(a.sh, b2.sh))::DOUBLE /
                           len(list_distinct(list_concat(a.sh, b2.sh)))
                      ELSE 0.0 END >= 0.5),
         bt AS (
           SELECT doc_id FROM documents WHERE doc_id % 3 = 0),
         sv AS (
           SELECT doc_id FROM bt
           WHERE doc_id NOT IN (SELECT id_b FROM flg))
         SELECT (SELECT count(*) FROM bt) AS n_batch,
                (SELECT count(*) FROM sv) AS n_survivors,
                (SELECT COALESCE(sum(doc_id), 0) FROM sv)::BIGINT
                  AS survivor_id_sum""",

    // normalize replay: same injected noise, same ASCII regex chain
    // (tags -> urls -> emails -> whitespace collapse -> trim); 'g' flag
    // matches Spark's replace-all default
    "q_text_normalize" ->
      """WITH raw AS (
           SELECT concat(
                    CASE WHEN doc_id % 3 = 0
                         THEN '<p>UPPER Case Title</p> ' ELSE '' END,
                    coalesce(text, ''),
                    CASE WHEN doc_id % 7 = 0
                         THEN ' Visit HTTPS://EXAMPLE.COM/A?b=1 now'
                         ELSE '' END,
                    CASE WHEN doc_id % 11 = 0
                         THEN ' mail Bob.Smith@Example.org  please'
                         ELSE '' END) AS raw
           FROM documents),
         n AS (
           SELECT raw,
                  trim(regexp_replace(
                    regexp_replace(
                      regexp_replace(
                        regexp_replace(lower(raw), '<[^>]+>', ' ', 'g'),
                        'https?://\S+', ' ', 'g'),
                      '[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}', ' ', 'g'),
                    '\s+', ' ', 'g')) AS norm
           FROM raw)
         SELECT count(*) AS n_docs,
                sum(CASE WHEN norm <> raw THEN 1 ELSE 0 END)::BIGINT
                  AS n_changed,
                sum(length(raw))::BIGINT AS len_raw,
                sum(length(norm))::BIGINT AS len_norm,
                count(DISTINCT md5(norm)) AS n_distinct
         FROM n""",

    "q_pii_redact" ->
      """WITH inj AS (
           SELECT text
             || (CASE WHEN doc_id % 7 = 0
                 THEN ' contact us at team@example.com' ELSE '' END)
             || (CASE WHEN doc_id % 11 = 0
                 THEN ' see https://example.com/data?id=1' ELSE '' END)
             || (CASE WHEN doc_id % 13 = 0
                 THEN ' call 555-867-5309' ELSE '' END) AS t
           FROM documents),
         red AS (
           SELECT t,
                  regexp_replace(regexp_replace(regexp_replace(t,
                    'https?://[^\s]+', '<PII>', 'g'),
                    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}',
                    '<PII>', 'g'),
                    '\b[0-9]{3}[-.][0-9]{3}[-.][0-9]{4}\b', '<PII>', 'g')
                    AS r
           FROM inj)
         SELECT sum(len(regexp_extract_all(t,
                  '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')))
                  ::BIGINT AS n_emails,
                sum(len(regexp_extract_all(t, 'https?://[^\s]+')))
                  ::BIGINT AS n_urls,
                sum(len(regexp_extract_all(t,
                  '\b[0-9]{3}[-.][0-9]{3}[-.][0-9]{4}\b')))
                  ::BIGINT AS n_phones,
                sum(length(t) - length(r))::BIGINT AS chars_removed
         FROM red""",

    "q_contamination" ->
      """WITH tok AS (
           SELECT doc_id,
                  string_split(regexp_replace(lower(trim(text)),
                                              '\s+', ' ', 'g'), ' ') AS t
           FROM documents),
         grams AS (
           SELECT doc_id, array_to_string(t[i:i+4], ' ') AS g
           FROM (SELECT doc_id, t,
                        unnest(generate_series(1, greatest(len(t) - 4, 0)))
                          AS i
                 FROM tok)
           UNION ALL
           SELECT doc_id, array_to_string(t, ' ') AS g
           FROM tok WHERE len(t) < 5),
         bench AS (SELECT DISTINCT g FROM grams WHERE doc_id < 20),
         hits AS (
           SELECT c.doc_id, count(DISTINCT c.g) AS n_matched
           FROM grams c JOIN bench USING (g)
           WHERE c.doc_id >= 20
           GROUP BY 1)
         SELECT count(*) AS n_contaminated,
                sum(n_matched)::BIGINT AS total_matched,
                min(doc_id) AS first_doc
         FROM hits""",

    // span-dedup replay: the same two-level polynomial (code points ->
    // token hash -> gram hash), corpus occurrence counts, hash semi-
    // join, per-doc island merge with the identical pos >= prev_end
    // boundary, per-source rollup
    "q_span_dedup" ->
      """WITH t AS (
           SELECT doc_id, source,
                  list_filter(string_split(
                    regexp_replace(lower(trim(text)), '\s+', ' ', 'g'),
                    ' '), x -> x <> '') AS toks
           FROM documents WHERE text IS NOT NULL),
         th AS (
           SELECT doc_id, source, len(toks)::BIGINT AS n,
                  [list_reduce(list_prepend(0::BIGINT,
                     [unicode(c)::BIGINT FOR c IN
                        regexp_extract_all(tok, '(?s).')]),
                     (a, b) -> (a * 131 + b) % 1000000007)
                   FOR tok IN toks] AS th
           FROM t),
         g AS (
           SELECT doc_id, i - 1 AS pos,
                  list_reduce(list_prepend(0::BIGINT,
                    th[i : i + 9]),
                    (a, h) -> (a * 131 + h) % 1000000007) AS gh
           FROM th, unnest(range(1, (n - 10 + 2)::INT)) AS u(i)
           WHERE n >= 10),
         hot AS (SELECT gh FROM g GROUP BY gh HAVING count(*) >= 2),
         rep AS (SELECT g.doc_id, g.pos FROM g JOIN hot USING (gh)),
         isl AS (
           SELECT doc_id, pos,
                  CASE WHEN max(pos + 10) OVER (
                         PARTITION BY doc_id ORDER BY pos
                         ROWS BETWEEN UNBOUNDED PRECEDING
                         AND 1 PRECEDING) IS NULL
                       OR pos >= max(pos + 10) OVER (
                         PARTITION BY doc_id ORDER BY pos
                         ROWS BETWEEN UNBOUNDED PRECEDING
                         AND 1 PRECEDING)
                       THEN 1 ELSE 0 END AS newf
           FROM rep),
         spans AS (
           SELECT doc_id, isl,
                  min(pos) AS s, max(pos) + 10 AS e
           FROM (SELECT doc_id, pos,
                        sum(newf) OVER (PARTITION BY doc_id
                          ORDER BY pos) AS isl
                 FROM isl)
           GROUP BY 1, 2),
         pd AS (
           SELECT doc_id, count(*)::BIGINT AS spans,
                  sum(e - s)::BIGINT AS removed
           FROM spans GROUP BY 1)
         SELECT th.source, count(*)::BIGINT AS n_docs,
                sum(th.n)::BIGINT AS n_tokens,
                count(pd.spans)::BIGINT AS n_docs_affected,
                COALESCE(sum(pd.spans), 0)::BIGINT AS n_spans,
                COALESCE(sum(pd.removed), 0)::BIGINT
                  AS n_tokens_removed
         FROM th LEFT JOIN pd ON th.doc_id = pd.doc_id
         GROUP BY 1 ORDER BY 1""",

    // suffix-array-fidelity replay: exact char-50-gram span union
    // (literal substring keys) + word-10-gram spans in char space
    // (token starts via per-token prefix sums over the single-spaced
    // norm) + per-doc interval intersection; ppm via BIGINT floor
    // division (non-negative masses on both sides)
    "q_span_audit" ->
      """WITH base AS MATERIALIZED (
           SELECT doc_id, source,
                  regexp_replace(lower(trim(text)), '\s+', ' ', 'g')
                    AS norm
           FROM documents WHERE text IS NOT NULL),
         cg AS (
           SELECT doc_id, p, substr(norm, (p + 1)::INT, 50) AS k
           FROM (SELECT doc_id, norm,
                        unnest(range(0, length(norm) - 50 + 1)) AS p
                 FROM base WHERE length(norm) >= 50)),
         hotc AS (SELECT k FROM cg GROUP BY k HAVING count(*) >= 2),
         repc AS (SELECT cg.doc_id, cg.p FROM cg
                  JOIN hotc USING (k)),
         exi AS (
           SELECT doc_id, p,
                  CASE WHEN max(p + 50) OVER (
                         PARTITION BY doc_id ORDER BY p
                         ROWS BETWEEN UNBOUNDED PRECEDING
                         AND 1 PRECEDING) IS NULL
                       OR p >= max(p + 50) OVER (
                         PARTITION BY doc_id ORDER BY p
                         ROWS BETWEEN UNBOUNDED PRECEDING
                         AND 1 PRECEDING)
                       THEN 1 ELSE 0 END AS newf
           FROM repc),
         exsp AS MATERIALIZED (
           SELECT doc_id, isl, min(p) AS s, max(p) + 50 AS e
           FROM (SELECT doc_id, p,
                        sum(newf) OVER (PARTITION BY doc_id
                          ORDER BY p) AS isl
                 FROM exi)
           GROUP BY 1, 2),
         st AS (
           SELECT doc_id, norm, tk, len(tk) AS nt,
                  [(i - 1)::BIGINT +
                   coalesce(list_sum(
                     [length(x) FOR x IN tk[1:i-1]]), 0)
                   FOR i IN range(1, len(tk) + 1)] AS starts
           FROM (SELECT doc_id, norm,
                        string_split(norm, ' ') AS tk
                 FROM base WHERE length(norm) > 0)),
         wg AS (
           SELECT doc_id, starts[i] AS s,
                  starts[i + 9] + length(tk[i + 9]) AS e,
                  substr(norm, (starts[i] + 1)::INT,
                         (starts[i + 9] + length(tk[i + 9])
                          - starts[i])::INT) AS k
           FROM st, unnest(range(1, (nt - 10 + 2)::INT)) AS u(i)
           WHERE nt >= 10),
         hotw AS (SELECT k FROM wg GROUP BY k HAVING count(*) >= 2),
         repw AS (SELECT wg.doc_id, wg.s, wg.e FROM wg
                  JOIN hotw USING (k)),
         api AS (
           SELECT doc_id, s, e,
                  CASE WHEN max(e) OVER (
                         PARTITION BY doc_id ORDER BY s
                         ROWS BETWEEN UNBOUNDED PRECEDING
                         AND 1 PRECEDING) IS NULL
                       OR s >= max(e) OVER (
                         PARTITION BY doc_id ORDER BY s
                         ROWS BETWEEN UNBOUNDED PRECEDING
                         AND 1 PRECEDING)
                       THEN 1 ELSE 0 END AS newf
           FROM repw),
         apsp AS MATERIALIZED (
           SELECT doc_id, isl, min(s) AS s, max(e) AS e
           FROM (SELECT doc_id, s, e,
                        sum(newf) OVER (PARTITION BY doc_id
                          ORDER BY s) AS isl
                 FROM api)
           GROUP BY 1, 2),
         exd AS (SELECT doc_id, count(*) AS exs,
                        sum(e - s) AS exm
                 FROM exsp GROUP BY 1),
         apd AS (SELECT doc_id, count(*) AS aps,
                        sum(e - s) AS apm
                 FROM apsp GROUP BY 1),
         ovd AS (
           SELECT a.doc_id,
                  sum(least(a.e, b.e) - greatest(a.s, b.s)) AS ovm
           FROM exsp a JOIN apsp b
             ON a.doc_id = b.doc_id AND a.s < b.e AND b.s < a.e
           GROUP BY 1),
         agg AS (
           SELECT base.source,
                  count(*)::BIGINT AS n_docs,
                  sum(length(base.norm))::BIGINT AS n_chars,
                  coalesce(sum(exd.exs), 0)::BIGINT AS n_spans_exact,
                  coalesce(sum(exd.exm), 0)::BIGINT
                    AS n_chars_removed_exact,
                  coalesce(sum(apd.aps), 0)::BIGINT AS n_spans_approx,
                  coalesce(sum(apd.apm), 0)::BIGINT
                    AS n_chars_removed_approx,
                  coalesce(sum(ovd.ovm), 0)::BIGINT AS n_chars_overlap
           FROM base
           LEFT JOIN exd ON base.doc_id = exd.doc_id
           LEFT JOIN apd ON base.doc_id = apd.doc_id
           LEFT JOIN ovd ON base.doc_id = ovd.doc_id
           GROUP BY 1)
         SELECT source, n_docs, n_chars, n_spans_exact,
                n_chars_removed_exact, n_spans_approx,
                n_chars_removed_approx, n_chars_overlap,
                (CASE WHEN n_chars_removed_exact > 0
                      THEN (n_chars_overlap * 1000000)
                           // n_chars_removed_exact
                      ELSE 0 END)::BIGINT AS recall_ppm,
                (CASE WHEN n_chars_removed_approx > 0
                      THEN (n_chars_overlap * 1000000)
                           // n_chars_removed_approx
                      ELSE 0 END)::BIGINT AS precision_ppm
         FROM agg ORDER BY source""",

    // split-leakage replay: same md5 fold + rolling-fingerprint
    // content key, (fp, split) counts, bounded fold-pair self-join
    "q_split_leakage" ->
      """WITH f AS (
           SELECT CASE WHEN substr(md5(doc_id::VARCHAR), 1, 1) <= 'b'
                         THEN 'train'
                       WHEN substr(md5(doc_id::VARCHAR), 1, 1) <= 'd'
                         THEN 'val'
                       ELSE 'test' END AS split,
                  list_reduce(
                    list_prepend(0::BIGINT,
                      [unicode(c)::BIGINT FOR c IN regexp_extract_all(
                         regexp_replace(lower(trim(text)), '\s+', ' ',
                                        'g'),
                         '(?s).')]),
                    (a, b) -> (a * 131 + b) % 1000000007) AS fp
           FROM documents WHERE text IS NOT NULL),
         g AS (SELECT fp, split, count(*) AS n FROM f GROUP BY 1, 2),
         lk AS (
           SELECT a.split AS split_a, b.split AS split_b,
                  count(*)::BIGINT AS fps,
                  sum(a.n)::BIGINT AS da, sum(b.n)::BIGINT AS db
           FROM g a JOIN g b ON a.fp = b.fp AND a.split < b.split
           GROUP BY 1, 2),
         sp AS (
           SELECT * FROM (VALUES ('test', 'train'), ('test', 'val'),
                                 ('train', 'val'))
             AS t(split_a, split_b))
         SELECT sp.split_a, sp.split_b,
                coalesce(lk.fps, 0)::BIGINT AS n_shared_fps,
                coalesce(lk.da, 0)::BIGINT AS n_docs_a,
                coalesce(lk.db, 0)::BIGINT AS n_docs_b
         FROM sp LEFT JOIN lk ON sp.split_a = lk.split_a
                             AND sp.split_b = lk.split_b
         ORDER BY 1, 2""",

    // vocab-coverage replay: per-(source, token) counts, top-1000
    // head by (tf desc, token asc), left join back for OOV tallies
    "q_vocab_coverage" ->
      """WITH t AS (
           SELECT source,
                  unnest(string_split_regex(lower(trim(text)), '\s+'))
                    AS token
           FROM documents WHERE text IS NOT NULL),
         ps AS (
           SELECT source, token, count(*) AS n FROM t
           WHERE token <> '' GROUP BY 1, 2),
         v AS (
           SELECT token FROM (
             SELECT token, sum(n) AS tf FROM ps GROUP BY 1
             ORDER BY tf DESC, token LIMIT 1000))
         SELECT source, sum(n)::BIGINT AS n_tokens,
                coalesce(sum(CASE WHEN v.token IS NULL THEN n END),
                         0)::BIGINT AS n_oov,
                count(CASE WHEN v.token IS NULL THEN 1 END)::BIGINT
                  AS n_oov_types
         FROM ps LEFT JOIN v ON ps.token = v.token
         GROUP BY 1 ORDER BY 1""",

    "q_hash_split" ->
      """WITH s AS (
           SELECT doc_id,
                  CASE WHEN substr(md5(doc_id::VARCHAR), 1, 1) <= 'b'
                         THEN 'train'
                       WHEN substr(md5(doc_id::VARCHAR), 1, 1) <= 'd'
                         THEN 'val'
                       ELSE 'test' END AS split
           FROM documents)
         SELECT split, count(*) AS n, min(doc_id) AS min_id,
                max(doc_id) AS max_id
         FROM s GROUP BY 1 ORDER BY 1""",

    "q_seq_packing" ->
      """WITH tok AS (
           SELECT doc_id,
                  ('0x' || substr(md5(doc_id::VARCHAR), 1, 6))::BIGINT
                    % 8 AS shard,
                  least(CASE WHEN text IS NULL
                               OR length(trim(text)) = 0 THEN 0
                        ELSE length(regexp_split_to_array(trim(text),
                                                          '\s+')) END,
                        512)::BIGINT AS tok
           FROM documents),
         pk AS (
           SELECT shard, tok,
                  floor((sum(tok) OVER (PARTITION BY shard
                           ORDER BY doc_id ROWS UNBOUNDED PRECEDING)
                         - tok) / 512.0)::BIGINT AS seq_id
           FROM tok),
         sq AS (
           SELECT shard, seq_id, count(*) AS n_docs,
                  sum(tok) AS n_tokens
           FROM pk GROUP BY 1, 2)
         SELECT shard, count(*) AS n_seqs, sum(n_docs)::BIGINT AS n_docs,
                sum(n_tokens)::BIGINT AS n_tokens
         FROM sq GROUP BY 1 ORDER BY 1""",

    "q_token_chunks" ->
      // chunk starts via the list-valued range(0, last+1, 24) where
      // last = ceil((ntok-32)/24)*24 clamped at 0 (chunking stops at
      // the first window reaching the end); DuckDB's generate_series
      // table function cannot take lateral column args
      """WITH t AS (
           SELECT doc_id,
                  (CASE WHEN text IS NULL OR length(trim(text)) = 0 THEN 0
                        ELSE length(regexp_split_to_array(trim(text),
                                                          '\s+'))
                   END)::BIGINT AS ntok
           FROM documents),
         c AS (
           SELECT doc_id, s AS chunk_start,
                  least(32, ntok - s) AS chunk_tokens
           FROM (SELECT doc_id, ntok,
                        unnest(range(0,
                          greatest(0, ((ntok - 32 + 23) // 24) * 24) + 1,
                          24)) AS s
                 FROM t WHERE ntok > 0))
         SELECT count(DISTINCT doc_id) AS n_docs,
                count(*) AS n_chunks,
                sum(chunk_tokens)::BIGINT AS sum_chunk_tokens,
                sum(CASE WHEN chunk_tokens = 32 THEN 1 ELSE 0
                    END)::BIGINT AS n_full,
                round(sum(chunk_tokens) / count(*), 6)
                  AS avg_chunk_tokens
         FROM c""",

    "q_incremental_dedup" ->
      // `is_null` not `isnull` — the latter collides with DuckDB's
      // isnull() function form and fails to parse as an alias
      """WITH snap AS (
           SELECT DISTINCT md5(regexp_replace(lower(trim(text)),
                                              '\s+', ' ', 'g')) AS fp
           FROM documents WHERE doc_id % 3 <> 0 AND text IS NOT NULL),
         bf AS (
           SELECT doc_id, (text IS NULL) AS is_null,
                  CASE WHEN text IS NULL THEN md5(doc_id::VARCHAR)
                       ELSE md5(regexp_replace(lower(trim(text)),
                                               '\s+', ' ', 'g')) END AS fp
           FROM documents WHERE doc_id % 3 = 0),
         fresh AS (
           SELECT * FROM bf WHERE fp NOT IN (SELECT fp FROM snap)),
         keep AS (
           SELECT fp, is_null, min(doc_id) AS doc_id
           FROM fresh GROUP BY 1, 2)
         SELECT count(*) AS n_new, min(doc_id) AS min_id,
                max(doc_id) AS max_id, sum(doc_id)::BIGINT AS id_sum
         FROM keep""",

    "q_bloom_dedup" ->
      // the Bloom stage is routing-only, so the oracle replays the
      // content-level dedup semantics (normalized text as the group
      // key; null-text rows are their own groups and never "seen")
      """WITH snap AS (
           SELECT DISTINCT regexp_replace(lower(trim(text)),
                                          '\s+', ' ', 'g') AS fp
           FROM documents WHERE doc_id % 4 <> 0 AND text IS NOT NULL),
         bf AS (
           SELECT doc_id, (text IS NULL) AS is_null,
                  CASE WHEN text IS NULL THEN doc_id::VARCHAR
                       ELSE regexp_replace(lower(trim(text)),
                                           '\s+', ' ', 'g') END AS fp
           FROM documents WHERE doc_id % 4 = 0),
         fresh AS (
           SELECT * FROM bf
           WHERE is_null OR fp NOT IN (SELECT fp FROM snap)),
         keep AS (
           SELECT fp, is_null, min(doc_id) AS doc_id
           FROM fresh GROUP BY 1, 2)
         SELECT count(*) AS n_new, min(doc_id) AS min_id,
                max(doc_id) AS max_id, sum(doc_id)::BIGINT AS id_sum
         FROM keep""",

    "q_chunk_dedup" ->
      // block grouping replays on the block STRING (the engine groups
      // on its xxhash64); DuckDB list slices are 1-based inclusive
      """WITH tok AS (
           SELECT doc_id,
                  regexp_replace(lower(trim(text)), '\s+', ' ', 'g')
                    AS norm,
                  string_split(regexp_replace(lower(trim(text)),
                                              '\s+', ' ', 'g'), ' ')
                    AS t
           FROM documents WHERE text IS NOT NULL),
         blocks AS (
           SELECT doc_id, i.i AS pos,
                  array_to_string(t[(i.i*12+1):(i.i*12+12)], ' ') AS seg
           FROM tok, LATERAL (SELECT unnest(range(((len(t)-1)//12)+1))
                              AS i) i),
         ranked AS (
           SELECT doc_id, pos, seg, row_number() OVER (
             PARTITION BY seg ORDER BY doc_id, pos) AS rn
           FROM blocks),
         rebuilt AS (
           SELECT doc_id, string_agg(seg, ' ' ORDER BY pos) AS newtext
           FROM ranked WHERE rn = 1 GROUP BY doc_id),
         fin AS (
           SELECT tok.doc_id, tok.norm,
                  coalesce(rebuilt.newtext, '') AS newtext
           FROM tok LEFT JOIN rebuilt ON tok.doc_id = rebuilt.doc_id)
         SELECT count(*) AS n_docs,
                sum(length(newtext))::BIGINT AS chars_kept,
                sum(CASE WHEN newtext <> norm THEN 1 ELSE 0 END)::BIGINT
                  AS n_changed,
                sum(doc_id * length(newtext))::BIGINT AS id_weighted
         FROM fin""",

    "q_lm_score" ->
      """WITH toks AS (
           SELECT doc_id,
                  unnest(string_split_regex(lower(trim(text)), '\s+'))
                    AS token
           FROM documents),
         t AS (SELECT doc_id, token FROM toks WHERE token <> ''),
         counts AS (SELECT token, count(*) AS cnt FROM t GROUP BY 1),
         tot AS (SELECT sum(cnt) AS n_corpus, count(*) AS n_vocab
                 FROM counts),
         scored AS (
           SELECT token,
                  CAST(round(ln((cnt + 1.0) / (n_corpus + n_vocab))
                             * 1000000.0) AS BIGINT) AS logp_micro
           FROM counts CROSS JOIN tot),
         docs AS (
           SELECT t.doc_id, count(*) AS n_tokens,
                  sum(logp_micro)::BIGINT AS nll
           FROM t JOIN scored USING (token) GROUP BY 1)
         SELECT d.source, count(*) AS n_docs,
                sum(docs.n_tokens)::BIGINT AS n_tokens,
                round(-sum(docs.nll) / (1000000.0 * sum(docs.n_tokens)),
                      6) AS avg_nll
         FROM docs JOIN documents d USING (doc_id)
         GROUP BY 1 ORDER BY 1""",

    // full curation-chain replay: md5 exact-dedup keep set, the
    // q_quality_score formula, string 5-gram decontamination (the
    // q_contamination CTEs), and the q_seq_packing window — stage
    // counts as scalar subqueries
    "q_curation_pipeline" ->
      """WITH corpus AS (
           SELECT doc_id, text FROM documents WHERE doc_id >= 20),
         bf AS (
           SELECT doc_id, text, (text IS NULL) AS is_null,
                  CASE WHEN text IS NULL THEN md5(doc_id::VARCHAR)
                       ELSE md5(regexp_replace(lower(trim(text)),
                                               '\s+', ' ', 'g')) END AS fp
           FROM corpus),
         keep AS (
           SELECT fp, is_null, min(doc_id) AS doc_id
           FROM bf GROUP BY 1, 2),
         dd AS (
           SELECT bf.doc_id, bf.text
           FROM bf JOIN keep USING (fp, is_null, doc_id)),
         feat AS (
           SELECT doc_id, text,
                  length(text)::DOUBLE AS n_chars,
                  (CASE WHEN text IS NULL OR length(trim(text)) = 0 THEN 0
                        ELSE length(regexp_split_to_array(trim(text),
                                                          '\s+'))
                   END)::DOUBLE AS n_tokens,
                  length(regexp_extract_all(text,
                    '[^A-Za-z0-9\s]'))::DOUBLE AS n_punct,
                  length(list_intersect(
                    string_split_regex(lower(text), '\s+'),
                    ['the','and','of','to','a','in','is','that','for',
                     'with']))::DOUBLE AS n_stop
           FROM dd),
         scored AS (
           SELECT doc_id, text,
                  (CASE WHEN n_tokens >= 10 AND n_tokens <= 100000
                        THEN 0.3 ELSE 0.0 END)
                + (CASE WHEN (CASE WHEN n_tokens > 0
                              THEN (n_chars - (n_tokens - 1)) / n_tokens
                              ELSE 0 END) >= 2
                         AND (CASE WHEN n_tokens > 0
                              THEN (n_chars - (n_tokens - 1)) / n_tokens
                              ELSE 0 END) <= 12
                        THEN 0.3 ELSE 0.0 END)
                + (CASE WHEN (CASE WHEN n_chars > 0
                              THEN n_punct / n_chars ELSE 0 END) <= 0.2
                        THEN 0.2 ELSE 0.0 END)
                + (CASE WHEN (CASE WHEN n_tokens > 0
                              THEN n_stop / n_tokens ELSE 0 END) >= 0.05
                        THEN 0.2 ELSE 0.0 END) AS quality
           FROM feat),
         q AS (SELECT doc_id, text FROM scored WHERE quality >= 0.9),
         qtok AS (
           SELECT doc_id,
                  string_split(regexp_replace(lower(trim(text)),
                                              '\s+', ' ', 'g'), ' ') AS t
           FROM q),
         qgrams AS (
           SELECT doc_id, array_to_string(t[i:i+4], ' ') AS g
           FROM (SELECT doc_id, t,
                        unnest(generate_series(1, greatest(len(t) - 4, 0)))
                          AS i
                 FROM qtok)
           UNION ALL
           SELECT doc_id, array_to_string(t, ' ') AS g
           FROM qtok WHERE len(t) < 5),
         btok AS (
           SELECT string_split(regexp_replace(lower(trim(text)),
                                              '\s+', ' ', 'g'), ' ') AS t
           FROM documents WHERE doc_id < 20),
         bgrams AS (
           SELECT DISTINCT g FROM (
             SELECT array_to_string(t[i:i+4], ' ') AS g
             FROM (SELECT t,
                          unnest(generate_series(1,
                                                 greatest(len(t) - 4, 0)))
                            AS i
                   FROM btok)
             UNION ALL
             SELECT array_to_string(t, ' ') AS g
             FROM btok WHERE len(t) < 5)),
         cont AS (SELECT DISTINCT doc_id FROM qgrams JOIN bgrams USING (g)),
         clean AS (
           SELECT doc_id, text FROM q
           WHERE doc_id NOT IN (SELECT doc_id FROM cont)),
         ptok AS (
           SELECT doc_id,
                  ('0x' || substr(md5(doc_id::VARCHAR), 1, 6))::BIGINT
                    % 8 AS shard,
                  least(CASE WHEN text IS NULL
                               OR length(trim(text)) = 0 THEN 0
                        ELSE length(regexp_split_to_array(trim(text),
                                                          '\s+')) END,
                        512)::BIGINT AS tok
           FROM clean),
         pk AS (
           SELECT shard, tok,
                  floor((sum(tok) OVER (PARTITION BY shard
                           ORDER BY doc_id ROWS UNBOUNDED PRECEDING)
                         - tok) / 512.0)::BIGINT AS seq_id
           FROM ptok),
         sq AS (
           SELECT shard, seq_id, sum(tok) AS n_tokens
           FROM pk GROUP BY 1, 2)
         SELECT (SELECT count(*) FROM corpus) AS n_input,
                (SELECT count(*) FROM dd) AS n_dedup,
                (SELECT count(*) FROM q) AS n_quality,
                (SELECT count(*) FROM clean) AS n_clean,
                (SELECT count(*) FROM sq) AS n_seqs,
                (SELECT sum(n_tokens)::BIGINT FROM sq) AS n_tokens""",

    // BM25 replay: expression grouping mirrors the Spark build exactly
    // ((idf * tfnorm) * 1e6, integerized, summed as BIGINT per doc)
    "q_bm25_topk" ->
      """WITH d AS (
           SELECT doc_id, text,
                  (CASE WHEN text IS NULL OR length(trim(text)) = 0 THEN 0
                        ELSE length(regexp_split_to_array(trim(text),
                                                          '\s+'))
                   END)::DOUBLE AS len
           FROM documents),
         stats AS (
           SELECT count(*)::DOUBLE AS n_corpus,
                  sum(len) / count(*)::DOUBLE AS avg_len
           FROM d),
         tk AS (
           SELECT doc_id, len,
                  unnest(string_split_regex(lower(trim(text)), '\s+'))
                    AS token
           FROM d),
         p AS (
           SELECT doc_id, len, token, count(*)::DOUBLE AS tf
           FROM tk WHERE token IN ('spark', 'window', 'merge')
           GROUP BY 1, 2, 3),
         dfc AS (SELECT token, count(*)::DOUBLE AS df FROM p GROUP BY 1),
         sc AS (
           SELECT doc_id,
                  CAST(round(
                    ln(1.0 + (n_corpus - df + 0.5) / (df + 0.5))
                    * ((tf * (1.2 + 1.0))
                       / (tf + 1.2 * (1.0 - 0.75 + 0.75 * len / avg_len)))
                    * 1000000.0) AS BIGINT) AS part
           FROM p JOIN dfc USING (token) CROSS JOIN stats)
         SELECT doc_id AS id, round(sum(part) / 1000000.0, 6) AS score
         FROM sc GROUP BY 1 ORDER BY score DESC, id LIMIT 10""",

    // sliding-window phrase scan — an INDEPENDENT formulation of the
    // positional-postings intersection (window check per start offset)
    "q_phrase_search" ->
      """WITH t AS (
           SELECT doc_id,
                  regexp_split_to_array(trim(lower(text)), '\s+') AS tok
           FROM documents),
         h AS (
           SELECT doc_id,
                  len(list_filter(range(1, len(tok)),
                      i -> tok[i] = 'the' AND tok[i+1] = 'query'))
                    ::BIGINT AS n_hits
           FROM t WHERE len(tok) >= 2)
         SELECT doc_id AS id, n_hits FROM h WHERE n_hits > 0
         ORDER BY id""",

    "q_containment" ->
      """WITH norm AS (
           SELECT doc_id,
                  string_split(regexp_replace(lower(trim(text)),
                                              '\s+', ' ', 'g'), ' ') AS tok
           FROM documents WHERE doc_id < 200
         ), sh AS (
           SELECT doc_id,
                  CASE WHEN len(tok) < 3
                       THEN [array_to_string(tok, ' ')]
                       ELSE list_distinct(
                              [array_to_string(tok[i:i+2], ' ')
                               for i in range(1, len(tok) - 1)])
                  END AS sh
           FROM norm)
         SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                len(list_intersect(a.sh, b.sh))::BIGINT AS inter_grams,
                len(a.sh)::BIGINT AS a_grams
         FROM sh a JOIN sh b ON a.doc_id != b.doc_id
         WHERE len(list_intersect(a.sh, b.sh)) * 2 >= len(a.sh)
         ORDER BY id_a, id_b""",

    // exact BIGINT dot products over 1e-6-quantized components — the
    // q_embed_clusters integer discipline, so no float fold anywhere
    "q_hard_negatives" ->
      """WITH q AS (
           SELECT vec_id AS qid, label AS qlabel,
                  [floor(x * 1e6)::BIGINT
                   for x in embedding::DOUBLE[]] AS qv
           FROM embeddings WHERE vec_id < 5),
         c AS (
           SELECT vec_id AS cid, label AS clabel,
                  [floor(x * 1e6)::BIGINT
                   for x in embedding::DOUBLE[]] AS cv
           FROM embeddings),
         s AS (
           SELECT qid, cid,
                  list_sum([qv[i] * cv[i]
                            for i in range(1, 65)])::BIGINT AS dot_q
           FROM q JOIN c ON qlabel != clabel),
         r AS (
           SELECT qid, cid, dot_q,
                  row_number() OVER (PARTITION BY qid
                                     ORDER BY dot_q DESC, cid) AS rank
           FROM s)
         SELECT qid, cid, dot_q, rank FROM r WHERE rank <= 5
         ORDER BY qid, rank""",

    // greedy k-center replay: 4 unrolled argmax rounds over the
    // incrementally-maintained exact integer min-distance column
    "q_kcenter_sample" ->
      """WITH e AS (
           SELECT vec_id AS id,
                  [floor(x * 1e6)::BIGINT
                   for x in embedding::DOUBLE[]] AS q
           FROM embeddings
           WHERE embedding IS NOT NULL AND len(embedding) = 64
             AND len(list_filter(embedding, x -> x IS NULL)) = 0),
         c0 AS (SELECT id, q FROM e ORDER BY id LIMIT 1),
         d0 AS (
           SELECT e.id,
                  list_sum([(e.q[i] - c.q[i]) * (e.q[i] - c.q[i])
                            for i in range(1, 65)])::BIGINT AS dmin
           FROM e, c0 c),
         p1 AS (SELECT id, dmin FROM d0 ORDER BY dmin DESC, id LIMIT 1),
         c1 AS (SELECT e.id, e.q FROM e JOIN p1 USING (id)),
         d1 AS (
           SELECT e.id,
                  least(d0.dmin,
                        list_sum([(e.q[i] - c.q[i]) * (e.q[i] - c.q[i])
                                  for i in range(1, 65)])::BIGINT) AS dmin
           FROM e JOIN d0 USING (id), c1 c),
         p2 AS (SELECT id, dmin FROM d1 ORDER BY dmin DESC, id LIMIT 1),
         c2 AS (SELECT e.id, e.q FROM e JOIN p2 USING (id)),
         d2_ AS (
           SELECT e.id,
                  least(d1.dmin,
                        list_sum([(e.q[i] - c.q[i]) * (e.q[i] - c.q[i])
                                  for i in range(1, 65)])::BIGINT) AS dmin
           FROM e JOIN d1 USING (id), c2 c),
         p3 AS (SELECT id, dmin FROM d2_ ORDER BY dmin DESC, id LIMIT 1),
         c3 AS (SELECT e.id, e.q FROM e JOIN p3 USING (id)),
         d3 AS (
           SELECT e.id,
                  least(d2_.dmin,
                        list_sum([(e.q[i] - c.q[i]) * (e.q[i] - c.q[i])
                                  for i in range(1, 65)])::BIGINT) AS dmin
           FROM e JOIN d2_ USING (id), c3 c),
         p4 AS (SELECT id, dmin FROM d3 ORDER BY dmin DESC, id LIMIT 1)
         SELECT 0 AS pick, (SELECT id FROM c0) AS id, 0::BIGINT AS d2
         UNION ALL SELECT 1, (SELECT id FROM p1), (SELECT dmin FROM p1)
         UNION ALL SELECT 2, (SELECT id FROM p2), (SELECT dmin FROM p2)
         UNION ALL SELECT 3, (SELECT id FROM p3), (SELECT dmin FROM p3)
         UNION ALL SELECT 4, (SELECT id FROM p4), (SELECT dmin FROM p4)
         ORDER BY pick""",

    // PAV replay via the minimax identity iso(i) = max_{j<=i}
    // min_{k>=i} avg(j..k), computed on the order-preserving injective
    // integer key floor(S * e / n) with S = 1e16 > totalN^2
    "q_isotonic" ->
      """WITH b AS (
           SELECT LEAST(FLOOR(l_extendedprice / 10000), 10)::BIGINT
                    AS bin,
                  CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS y
           FROM lineitem WHERE l_extendedprice IS NOT NULL),
         g AS (
           SELECT bin, count(*)::BIGINT AS n, sum(y)::BIGINT AS e
           FROM b GROUP BY 1),
         pre AS (
           SELECT bin, n, e,
                  sum(n) OVER (ORDER BY bin) AS cn,
                  sum(e) OVER (ORDER BY bin) AS ce
           FROM g),
         seg AS (
           SELECT j.bin AS jb, k.bin AS kb,
                  (k.cn - j.cn + j.n) AS sn,
                  (k.ce - j.ce + j.e) AS se
           FROM pre j JOIN pre k ON j.bin <= k.bin),
         key AS (
           SELECT jb, kb,
                  ((se::HUGEINT * 10000000000000000) // sn)::BIGINT AS kk
           FROM seg),
         cells AS (
           SELECT g.bin AS i, key.jb, key.kk
           FROM g JOIN key ON key.jb <= g.bin AND key.kb >= g.bin),
         inner_min AS (
           SELECT i, jb, min(kk) AS mk FROM cells GROUP BY 1, 2),
         iso AS (
           SELECT i AS bin, max(mk) AS iso_scaled
           FROM inner_min GROUP BY 1)
         SELECT g.bin, g.n, g.e AS events, iso.iso_scaled
         FROM g JOIN iso USING (bin) ORDER BY bin""",

    "q_binaryfile_source" ->
      """SELECT doc_id, length(text)::BIGINT AS n_bytes, text
         FROM documents WHERE text IS NOT NULL AND doc_id < 200
         ORDER BY doc_id""",

    "q_seasonal_anomaly" -> seasonalAnomalySql,
    // the streaming replay maintains the SAME hourly counts
    // incrementally (complete-mode aggregation, exactly-once file
    // stream), so its oracle is the batch replay verbatim
    "q_stream_seasonal" -> seasonalAnomalySql,

    "q_group_split" ->
      """WITH s AS (
           SELECT user_id, value,
                  CASE WHEN substr(md5(user_id::VARCHAR), 1, 1) <= 'b'
                         THEN 'train'
                       WHEN substr(md5(user_id::VARCHAR), 1, 1) <= 'd'
                         THEN 'val'
                       ELSE 'test' END AS split
           FROM events WHERE value IS NOT NULL)
         SELECT split, count(DISTINCT user_id) AS n_users,
                count(*) AS n_rows,
                sum(floor(value * 100)::BIGINT)::BIGINT AS value_cents
         FROM s GROUP BY 1 ORDER BY 1""",

    // exact order statistics via row_number — an independent
    // formulation of the bucketed-crossing picks
    "q_winsorized" ->
      """WITH x AS (
           SELECT event_type, floor(value * 100)::BIGINT AS v
           FROM events WHERE value IS NOT NULL),
         st AS (
           SELECT event_type, v,
                  row_number() OVER (PARTITION BY event_type
                                     ORDER BY v) AS rn,
                  count(*) OVER (PARTITION BY event_type) AS n
           FROM x),
         thr AS (
           SELECT event_type,
                  max(CASE WHEN rn = (n + 9) // 10 THEN v END) AS lo,
                  max(CASE WHEN rn = (n * 9 + 9) // 10 THEN v END) AS hi
           FROM st GROUP BY 1)
         SELECT x.event_type, count(*) AS n, max(lo) AS lo,
                max(hi) AS hi,
                sum(greatest(least(v, hi), lo))::BIGINT
                  AS winsorized_sum,
                sum(v)::BIGINT AS raw_sum
         FROM x JOIN thr USING (event_type)
         GROUP BY 1 ORDER BY 1""",

    // candidate CTEs replay q_minhash_bands (portable Rabin-Karp
    // 5-char shingles, 32 hashes, 8 bands, star guard); truth is the
    // q_ngram_jaccard brute force at the integer 1/2 threshold
    "q_lsh_quality" ->
      """WITH n AS (
           SELECT doc_id,
                  regexp_replace(lower(trim(text)), '\s+', ' ', 'g')
                    AS nm
           FROM documents WHERE doc_id < 200),
         cp AS (
           SELECT doc_id,
                  [unicode(c)::BIGINT FOR c IN
                   regexp_extract_all(nm, '(?s).')] AS cps,
                  string_split(nm, ' ') AS tok
           FROM n),
         hs AS (
           SELECT doc_id, tok,
                  CASE WHEN len(cps) < 5
                       THEN [list_reduce(list_prepend(0::BIGINT, cps),
                              (a, b) -> ((a * 131) + b) % 1000000007)]
                       ELSE [list_reduce(list_prepend(0::BIGINT,
                               cps[i:i+4]),
                              (a, b) -> ((a * 131) + b) % 1000000007)
                             FOR i IN range(1, len(cps) - 3)]
                  END AS hs
           FROM cp),
         sigs AS (
           SELECT doc_id, tok,
                  [coalesce(list_min(list_filter(hs,
                              h -> (h % 32) = j)),
                            list_min(hs))
                   FOR j IN range(0, 32)] AS sig
           FROM hs),
         bnd AS (
           SELECT doc_id, b.b AS band,
                  array_to_string(sig[b.b*4+1 : b.b*4+4], ',') AS key
           FROM sigs, (SELECT unnest(range(0, 8)) AS b) b),
         bsz AS (
           SELECT doc_id, band, key,
                  count(*) OVER (PARTITION BY band, key) AS bn,
                  min(doc_id) OVER (PARTITION BY band, key) AS bmin
           FROM bnd),
         cand AS (
           SELECT DISTINCT x.doc_id AS id_a, y.doc_id AS id_b
           FROM bsz x JOIN bsz y
             ON x.band = y.band AND x.key = y.key
                AND x.doc_id < y.doc_id
           WHERE x.bn <= 256 OR x.doc_id = x.bmin),
         sh AS (
           SELECT doc_id,
                  CASE WHEN len(tok) < 3
                       THEN [array_to_string(tok, ' ')]
                       ELSE list_distinct(
                              [array_to_string(tok[i:i+2], ' ')
                               FOR i IN range(1, len(tok) - 1)])
                  END AS sh
           FROM sigs),
         truth AS (
           SELECT a.doc_id AS id_a, b.doc_id AS id_b
           FROM sh a JOIN sh b ON a.doc_id < b.doc_id
           WHERE len(list_intersect(a.sh, b.sh)) * 2 >=
                 len(list_distinct(list_concat(a.sh, b.sh)))),
         hits AS (
           SELECT t.id_a, t.id_b
           FROM truth t JOIN cand c
             ON t.id_a = c.id_a AND t.id_b = c.id_b)
         SELECT (SELECT count(*) FROM cand) AS n_candidates,
                (SELECT count(*) FROM truth) AS n_truth,
                (SELECT coalesce(sum(id_a + id_b), 0)::BIGINT
                 FROM truth) AS truth_id_sum,
                (SELECT count(*) FROM hits) AS n_hits""",

    // confusion CTEs replay q_lang_id; kappa is pure integer
    // arithmetic over the bounded matrix
    "q_kappa" ->
      """WITH h AS (
           SELECT lang, text IS NULL AS is_null,
                  length(regexp_extract_all(text,
                    '[\x{4e00}-\x{9fff}]')) AS cjk,
                  length(list_intersect(
                    string_split_regex(lower(text), '\s+'),
                    ['the','and','of','to','a','in','is','that','for',
                     'with'])) AS h_en,
                  length(list_intersect(
                    string_split_regex(lower(text), '\s+'),
                    ['el','la','de','que','y','en','un','los','del',
                     'las'])) AS h_es,
                  length(list_intersect(
                    string_split_regex(lower(text), '\s+'),
                    ['der','die','und','das','ist','von','den','mit',
                     'ein','zu'])) AS h_de,
                  length(list_intersect(
                    string_split_regex(lower(text), '\s+'),
                    ['le','la','les','de','et','un','une','du','des',
                     'est'])) AS h_fr
           FROM documents),
         p AS (
           SELECT lang,
                  CASE WHEN is_null THEN 'und'
                       WHEN cjk > 0 THEN 'zh'
                       WHEN greatest(h_en, h_es, h_de, h_fr) = 0 THEN 'und'
                       WHEN h_en = greatest(h_en, h_es, h_de, h_fr)
                         THEN 'en'
                       WHEN h_es = greatest(h_en, h_es, h_de, h_fr)
                         THEN 'es'
                       WHEN h_de = greatest(h_en, h_es, h_de, h_fr)
                         THEN 'de'
                       ELSE 'fr' END AS pred
           FROM h),
         m AS (
           SELECT lang AS g, pred AS pr, count(*) AS n
           FROM p WHERE lang IS NOT NULL GROUP BY 1, 2),
         tot AS (
           SELECT sum(n)::BIGINT AS n_total,
                  coalesce(sum(CASE WHEN g = pr THEN n END), 0)::BIGINT
                    AS n_agree
           FROM m),
         rm AS (SELECT g, sum(n) AS rn FROM m GROUP BY 1),
         cm AS (SELECT pr, sum(n) AS cn FROM m GROUP BY 1),
         pe AS (
           SELECT coalesce(sum(rn * cn), 0)::BIGINT AS pe_num
           FROM rm JOIN cm ON rm.g = cm.pr)
         SELECT n_total, n_agree, pe_num,
                (n_total * n_agree - pe_num)::BIGINT AS kappa_num,
                (n_total * n_total - pe_num)::BIGINT AS kappa_den
         FROM tot, pe""",

    // brute-force levenshtein truth (the q_fuzzy_pairs discipline) +
    // min-reachable-label transitive closure (the q_dedup_clusters
    // recursive-CTE pattern)
    "q_er_clusters" ->
      """WITH e AS (
           SELECT min(c_custkey)::BIGINT AS node,
                  lower(c_name) AS name
           FROM customer
           WHERE c_name IS NOT NULL AND c_custkey % 3 = 0
           GROUP BY 2),
         p AS (
           SELECT a.node AS na, b.node AS nb
           FROM e a JOIN e b
             ON a.name < b.name
            AND levenshtein(a.name, b.name) = 1),
         sym AS (
           SELECT na AS s, nb AS d FROM p
           UNION ALL SELECT nb, na FROM p),
         r AS (
           WITH RECURSIVE r AS (
             SELECT s AS id, s AS lab FROM sym
             UNION
             SELECT sym.d AS id, r.lab
             FROM r JOIN sym ON sym.s = r.id)
           SELECT id, min(lab) AS comp FROM r GROUP BY 1),
         szs AS (SELECT comp, count(*) AS size FROM r GROUP BY 1)
         SELECT size, count(*) AS n_clusters,
                sum(comp)::BIGINT AS comp_checksum
         FROM szs GROUP BY 1 ORDER BY 1""",

    // set-similarity replay: BRUTE-FORCE all pairs (no prefix filter)
    // with the same integer test 20*|a n b| >= 19*|a u b| — an
    // independent implementation proving the filter's exactness
    "q_setsim_join" ->
      """WITH t AS (
           SELECT doc_id,
                  list_distinct(list_filter(
                    string_split_regex(lower(trim(text)), '\s+'),
                    x -> x <> '')) AS s
           FROM documents WHERE text IS NOT NULL),
         tt AS (SELECT * FROM t WHERE len(s) > 0),
         p AS (
           SELECT a.doc_id AS ia, b.doc_id AS ib,
                  len(list_intersect(a.s, b.s))::BIGINT AS i,
                  len(list_distinct(a.s || b.s))::BIGINT AS u
           FROM tt a JOIN tt b ON a.doc_id < b.doc_id),
         q AS (SELECT * FROM p WHERE 20 * i >= 19 * u)
         SELECT count(*) AS n_pairs,
                COALESCE(sum(ia + ib), 0)::BIGINT AS id_sum,
                COALESCE(sum(i), 0)::BIGINT AS inter_sum,
                COALESCE(sum(u), 0)::BIGINT AS uni_sum
         FROM q""",

    // hybrid-RRF replay: the q_bm25_topk scoring chain (kList=20) and
    // the q_embed_topk cosine list (kList=20), each ranked, fused by
    // exact integer 1e6 // (60 + rank) with 0 for a missing list
    "q_hybrid_rrf" ->
      """WITH d AS (
           SELECT doc_id, text,
                  (CASE WHEN text IS NULL OR length(trim(text)) = 0 THEN 0
                        ELSE length(regexp_split_to_array(trim(text),
                                                          '\s+'))
                   END)::DOUBLE AS len
           FROM documents),
         stats AS (
           SELECT count(*)::DOUBLE AS n_corpus,
                  sum(len) / count(*)::DOUBLE AS avg_len
           FROM d),
         tk AS (
           SELECT doc_id, len,
                  unnest(string_split_regex(lower(trim(text)), '\s+'))
                    AS token
           FROM d),
         p AS (
           SELECT doc_id, len, token, count(*)::DOUBLE AS tf
           FROM tk WHERE token IN ('spark', 'window', 'merge')
           GROUP BY 1, 2, 3),
         dfc AS (SELECT token, count(*)::DOUBLE AS df FROM p GROUP BY 1),
         sc AS (
           SELECT doc_id,
                  CAST(round(
                    ln(1.0 + (n_corpus - df + 0.5) / (df + 0.5))
                    * ((tf * (1.2 + 1.0))
                       / (tf + 1.2 * (1.0 - 0.75 + 0.75 * len / avg_len)))
                    * 1000000.0) AS BIGINT) AS part
           FROM p JOIN dfc USING (token) CROSS JOIN stats),
         bml AS (
           SELECT doc_id AS id, round(sum(part) / 1000000.0, 6) AS score
           FROM sc GROUP BY 1 ORDER BY score DESC, id LIMIT 20),
         bm AS (
           SELECT id, row_number() OVER (ORDER BY score DESC, id) AS rt
           FROM bml),
         vel AS (
           SELECT vec_id AS id,
                  round(list_sum(embedding::DOUBLE[])
                        / (sqrt(list_dot_product(embedding::DOUBLE[],
                                                 embedding::DOUBLE[]))
                           * sqrt(64.0)), 6) AS cosine
           FROM embeddings ORDER BY cosine DESC, id LIMIT 20),
         ve AS (
           SELECT id, row_number() OVER (ORDER BY cosine DESC, id) AS rv
           FROM vel),
         f AS (
           SELECT COALESCE(bm.id, ve.id) AS id,
                  COALESCE(1000000 // (60 + rt), 0)
                    + COALESCE(1000000 // (60 + rv), 0) AS rrf_ppm
           FROM bm FULL OUTER JOIN ve ON bm.id = ve.id)
         SELECT id, rrf_ppm::BIGINT AS rrf_ppm FROM f
         ORDER BY rrf_ppm DESC, id LIMIT 10""",

    // tf-idf replay: corpus df over per-doc DISTINCT tokens, smoothed
    // idf ln((1+N)/(1+df))+1, rank on the 6-digit-rounded score with
    // token tie-break — mirrors Search.tfidfTopTerms exactly
    "q_tfidf_terms" ->
      """WITH tk AS (
           SELECT doc_id,
                  unnest(string_split_regex(lower(trim(text)), '\s+'))
                    AS token
           FROM documents WHERE text IS NOT NULL),
         dfc AS (
           SELECT token, count(DISTINCT doc_id)::DOUBLE AS df
           FROM tk WHERE token <> '' GROUP BY 1),
         stats AS (SELECT count(*)::DOUBLE AS n_corpus FROM documents),
         tf AS (
           SELECT doc_id AS id, token, count(*)::DOUBLE AS tf
           FROM tk WHERE doc_id < 10 AND token <> '' GROUP BY 1, 2),
         sc AS (
           SELECT id, token,
                  round(tf * (ln((1.0 + n_corpus) / (1.0 + df)) + 1.0),
                        6) AS score
           FROM tf JOIN dfc USING (token) CROSS JOIN stats),
         rk AS (
           SELECT id, token, score,
                  row_number() OVER (PARTITION BY id
                                     ORDER BY score DESC, token) AS rank
           FROM sc)
         SELECT id, rank, token, score FROM rk WHERE rank <= 3
         ORDER BY id, rank""",

    "q_domain_mix" ->
      """WITH w(src, p) AS (
           VALUES ('src0', 0.5::DOUBLE), ('src1', 0.25::DOUBLE),
                  ('src2', 0.25::DOUBLE)),
         cnt AS (
           SELECT source, count(*) AS n FROM documents
           WHERE source IN (SELECT src FROM w) GROUP BY 1),
         t AS (
           SELECT min(n / p) AS t
           FROM cnt JOIN w ON w.src = cnt.source),
         thr AS (
           SELECT cnt.source,
                  floor(least(1.0::DOUBLE, p * t.t / n)
                        * 16777216)::BIGINT AS thr
           FROM cnt JOIN w ON w.src = cnt.source CROSS JOIN t),
         kept AS (
           SELECT d.source, d.doc_id
           FROM documents d JOIN thr ON thr.source = d.source
           WHERE ('0x' || substr(md5(d.doc_id::VARCHAR), 1, 6))::BIGINT
                 < thr.thr)
         SELECT source, count(*) AS n, min(doc_id) AS min_id,
                max(doc_id) AS max_id
         FROM kept GROUP BY 1 ORDER BY 1""",

    "q_quality_filter" ->
      // null text counts 0 subwords, mirroring the engine's metric
      """WITH s AS (
           SELECT text,
                  (CASE WHEN text IS NULL THEN 0
                        ELSE len(regexp_extract_all(text,
                          '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]'))
                   END)::DOUBLE AS n
           FROM documents),
         thr AS (SELECT quantile_cont(n, 0.75)::DOUBLE AS t FROM s)
         SELECT count(*) AS n_kept, round(t, 6) AS threshold,
                round(avg(length(text)), 6) AS avg_chars
         FROM s, thr WHERE n >= t GROUP BY t""",

    "q_quality_by_lang" ->
      // null text counts 0 subwords (the engine's subwordCount maps
      // null -> 0) and a NULL lang is a stratum like any other (the
      // engine joins thresholds null-safely)
      """WITH s AS (
           SELECT lang,
                  (CASE WHEN text IS NULL THEN 0
                        ELSE len(regexp_extract_all(text,
                          '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]'))
                   END)::DOUBLE AS n
           FROM documents),
         thr AS (SELECT lang, quantile_cont(n, 0.6)::DOUBLE AS t
                 FROM s GROUP BY 1)
         SELECT s.lang, count(*) AS n_kept,
                round(avg(n), 6) AS avg_subwords,
                round(min(n), 6) AS min_subwords
         FROM s JOIN thr ON s.lang IS NOT DISTINCT FROM thr.lang
         WHERE n >= t GROUP BY 1 ORDER BY 1""",

    "q_repetition" ->
      """WITH w AS (
           SELECT doc_id, source,
                  regexp_split_to_array(trim(text), '\s+') AS w
           FROM documents),
         bi AS (
           SELECT doc_id,
                  unnest(list_transform(range(1, len(w)),
                                        i -> w[i] || ' ' || w[i+1])) AS g
           FROM w),
         bc AS (SELECT doc_id, g, count(*) AS c FROM bi GROUP BY 1, 2),
         bt AS (SELECT doc_id, max(c)::DOUBLE / sum(c) AS top_frac
                FROM bc GROUP BY 1),
         tr AS (
           SELECT doc_id, source,
                  list_transform(range(1, len(w) - 1),
                    i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2]) AS t
           FROM w)
         SELECT tr.source, count(*) AS n_docs,
                round(avg(coalesce(bt.top_frac, 0.0)), 6)
                  AS avg_top_bigram_frac,
                round(avg(CASE WHEN len(t) > 0
                          THEN 1.0 - len(list_distinct(t))::DOUBLE / len(t)
                          ELSE 0.0 END), 6) AS avg_dup_trigram_frac
         FROM tr LEFT JOIN bt USING (doc_id)
         GROUP BY 1 ORDER BY 1""",

    "q_stratified_sample" ->
      """WITH r AS (
           SELECT lang, doc_id,
                  row_number() OVER (PARTITION BY lang
                    ORDER BY md5(doc_id::VARCHAR), doc_id) AS rn,
                  count(*) OVER (PARTITION BY lang) AS n
           FROM documents)
         SELECT lang, count(*) AS n_sampled,
                CAST(sum(doc_id) AS DOUBLE) AS sum_id
         FROM r WHERE rn <= ceil(round(n * 0.25, 9))
         GROUP BY 1 ORDER BY 1""",

    "q_source_cap" ->
      """WITH r AS (
           SELECT source, doc_id,
                  row_number() OVER (PARTITION BY source
                    ORDER BY md5(doc_id::VARCHAR), doc_id) AS rn
           FROM documents)
         SELECT source, count(*) AS n_kept,
                CAST(sum(doc_id) AS DOUBLE) AS sum_id
         FROM r WHERE rn <= 120
         GROUP BY 1 ORDER BY 1""",

    // token-budget replay: same md5 content order as q_source_cap, but
    // the keep predicate is the inclusive running TOKEN total <= 800 —
    // integer-only surface (whitespace token counts, BIGINT cumsum)
    "q_token_budget" ->
      """WITH t AS (
           SELECT source, doc_id,
                  (CASE WHEN text IS NULL OR length(trim(text)) = 0
                        THEN 0
                        ELSE length(regexp_split_to_array(trim(text),
                                                          '\s+'))
                   END)::BIGINT AS n_tok
           FROM documents),
         r AS (
           SELECT source, doc_id, n_tok,
                  sum(n_tok) OVER (PARTITION BY source
                    ORDER BY md5(doc_id::VARCHAR), doc_id
                    ROWS UNBOUNDED PRECEDING) AS cum
           FROM t WHERE n_tok >= 1)
         SELECT source, count(*) AS n_kept, sum(n_tok)::BIGINT AS tokens,
                sum(doc_id)::BIGINT AS sum_id
         FROM r WHERE cum <= 800
         GROUP BY 1 ORDER BY 1""",

    // MERGE replay: same synthetic changelog, row_number compaction
    // (latest (ts, oid) wins; oid is unique so no further ties), then
    // NOT-IN survivors + surviving upserts
    "q_merge_upsert" ->
      """WITH chg AS (
           SELECT o_custkey AS c_custkey,
                  'cust-upd-' || o_orderkey AS c_name,
                  CAST(o_orderkey % 25 AS INTEGER) AS c_nationkey,
                  o_totalprice AS c_acctbal,
                  'MERGED' AS c_mktsegment,
                  CASE WHEN o_custkey % 10 = 0 THEN 'D' ELSE 'U' END
                    AS op,
                  o_orderdate AS ts, o_orderkey AS oid
           FROM orders WHERE o_orderkey % 7 = 0),
         r AS (
           SELECT *, row_number() OVER (PARTITION BY c_custkey
                       ORDER BY ts DESC, oid DESC) AS rn
           FROM chg),
         l AS (SELECT * FROM r WHERE rn = 1)
         SELECT c_custkey, c_name, c_nationkey, c_acctbal,
                c_mktsegment
         FROM customer
         WHERE c_custkey NOT IN (SELECT c_custkey FROM l)
         UNION ALL
         SELECT c_custkey, c_name, c_nationkey, c_acctbal,
                c_mktsegment
         FROM l WHERE op = 'U'
         ORDER BY c_custkey""",

    // lakehouse-pipeline replay: the MERGE CTEs extended with the
    // compaction stats, post-merge checksum, and full-outer diff audit
    "q_lakehouse_pipeline" ->
      """WITH chg AS (
           SELECT o_custkey AS c_custkey,
                  'cust-upd-' || o_orderkey AS c_name,
                  CAST(o_orderkey % 25 AS INTEGER) AS c_nationkey,
                  o_totalprice AS c_acctbal,
                  'MERGED' AS c_mktsegment,
                  CASE WHEN o_custkey % 10 = 0 THEN 'D' ELSE 'U' END
                    AS op,
                  o_orderdate AS ts, o_orderkey AS oid
           FROM orders WHERE o_orderkey % 7 = 0),
         r AS (
           SELECT *, row_number() OVER (PARTITION BY c_custkey
                       ORDER BY ts DESC, oid DESC) AS rn
           FROM chg),
         l AS (SELECT * FROM r WHERE rn = 1),
         merged AS (
           SELECT c_custkey, c_name, c_nationkey, c_acctbal,
                  c_mktsegment
           FROM customer
           WHERE c_custkey NOT IN (SELECT c_custkey FROM l)
           UNION ALL
           SELECT c_custkey, c_name, c_nationkey, c_acctbal,
                  c_mktsegment
           FROM l WHERE op = 'U'),
         ck AS (
           SELECT c_custkey, count(*) AS nv FROM chg GROUP BY 1),
         cstat AS (
           SELECT count(*)::BIGINT AS n_keys_changed,
                  sum(nv)::BIGINT AS n_changes,
                  max(nv)::BIGINT AS max_versions
           FROM ck),
         base AS (SELECT count(*)::BIGINT AS n_base FROM customer),
         aft AS (
           SELECT count(*)::BIGINT AS n_rows_after,
                  sum(c_custkey)::BIGINT AS key_checksum
           FROM merged),
         df AS (
           SELECT CASE WHEN o.c_custkey IS NULL THEN 'I'
                       WHEN m.c_custkey IS NULL THEN 'D'
                       WHEN o.c_name IS DISTINCT FROM m.c_name
                         OR o.c_acctbal IS DISTINCT FROM m.c_acctbal
                         OR o.c_mktsegment IS DISTINCT FROM
                              m.c_mktsegment THEN 'U' END AS change
           FROM customer o
           FULL OUTER JOIN merged m ON o.c_custkey = m.c_custkey),
         aud AS (
           SELECT sum(CASE WHEN change = 'I' THEN 1 ELSE 0 END)::BIGINT
                    AS n_inserted,
                  sum(CASE WHEN change = 'D' THEN 1 ELSE 0 END)::BIGINT
                    AS n_deleted,
                  sum(CASE WHEN change = 'U' THEN 1 ELSE 0 END)::BIGINT
                    AS n_updated
           FROM df)
         SELECT n_base, n_keys_changed, n_changes, max_versions,
                n_rows_after, key_checksum, n_inserted, n_deleted,
                n_updated
         FROM base, cstat, aft, aud""",

    // schema-merge replay: the two evolved parts partition orders by
    // key parity, so the unified aggregate is direct conditional sums
    "q_schema_merge" ->
      """SELECT count(*)::BIGINT AS n_rows,
                sum(o_orderkey)::BIGINT AS key_sum,
                sum(CASE WHEN o_orderkey % 2 = 0 THEN 1
                    ELSE 0 END)::BIGINT AS n_v1,
                sum(CASE WHEN o_orderkey % 2 = 1 THEN 1
                    ELSE 0 END)::BIGINT AS n_v2,
                sum(CASE WHEN o_orderkey % 2 = 0
                         THEN floor(o_totalprice * 100)::BIGINT
                    END)::BIGINT AS sum_cents
         FROM orders""",

    // LOCF replay: same spine (list-form generate_series) and the
    // same IGNORE NULLS carry window
    "q_locf_fill" ->
      """WITH per AS (
           SELECT event_type AS k,
                  epoch_us(ts) // 1000000 // 7200 AS period,
                  count(*) AS n
           FROM events WHERE ts IS NOT NULL GROUP BY 1, 2),
         b AS (SELECT min(period) AS mn, max(period) AS mx FROM per),
         spine AS (
           SELECT k, unnest(generate_series(b.mn, b.mx)) AS period
           FROM (SELECT DISTINCT k FROM per) kk, b),
         f AS (
           SELECT s.k, s.period, p.n,
                  last_value(p.n IGNORE NULLS) OVER (
                    PARTITION BY s.k ORDER BY s.period
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                    AS filled
           FROM spine s
           LEFT JOIN per p ON p.k = s.k AND p.period = s.period)
         SELECT count(*)::BIGINT AS n_cells,
                sum(CASE WHEN n IS NULL THEN 1 ELSE 0 END)::BIGINT
                  AS n_gap_cells,
                sum(filled)::BIGINT AS filled_sum,
                sum(period * filled)::BIGINT AS weighted_sum
         FROM f""",

    // life-table replay: same floor-division day periods, same
    // censoring horizon (corpus max last-period), suffix-sum at-risk
    "q_life_table" ->
      """WITH s AS (
           SELECT user_id,
                  min(epoch_us(ts) // 1000000 // 3600) AS fp,
                  max(epoch_us(ts) // 1000000 // 3600) AS lp
           FROM events WHERE ts IS NOT NULL GROUP BY 1),
         m AS (
           SELECT lp - fp AS duration,
                  CASE WHEN lp < (SELECT max(lp) FROM s)
                       THEN 1 ELSE 0 END AS churn
           FROM s),
         d AS (
           SELECT duration, sum(churn)::BIGINT AS n_events,
                  (count(*) - sum(churn))::BIGINT AS n_censored
           FROM m GROUP BY 1)
         SELECT duration,
                sum(n_events + n_censored)
                  OVER (ORDER BY duration DESC
                        ROWS UNBOUNDED PRECEDING)::BIGINT AS n_risk,
                n_events, n_censored
         FROM d ORDER BY duration""",

    // session-path replay: identical 30-min gap flags, island ids,
    // in-session step numbers and '>'-joined 5-step prefixes; DuckDB
    // string_agg skips the NULLed steps past the prefix exactly like
    // Spark's collect_list
    "q_session_paths" ->
      """WITH e AS (
           SELECT user_id, event_id, event_type,
                  epoch_us(ts) // 1000000 AS sec
           FROM events WHERE ts IS NOT NULL),
         f AS (
           SELECT *, CASE WHEN lag(sec) OVER w IS NULL
                            OR sec - lag(sec) OVER w > 1800
                          THEN 1 ELSE 0 END AS newf
           FROM e
           WINDOW w AS (PARTITION BY user_id ORDER BY sec, event_id)),
         g AS (
           SELECT *, sum(newf) OVER (PARTITION BY user_id
                       ORDER BY sec, event_id
                       ROWS UNBOUNDED PRECEDING) AS sess
           FROM f),
         h AS (
           SELECT *, row_number() OVER (PARTITION BY user_id, sess
                       ORDER BY sec, event_id) AS step
           FROM g),
         p AS (
           SELECT user_id, sess, max(step) AS len,
                  string_agg(CASE WHEN step <= 5 THEN event_type END,
                             '>' ORDER BY step) AS prefix
           FROM h GROUP BY 1, 2),
         q AS (
           SELECT prefix || CASE WHEN len > 5 THEN '>…' ELSE '' END
                    AS path
           FROM p)
         SELECT path, count(*) AS n_sessions
         FROM q GROUP BY 1
         ORDER BY n_sessions DESC, path LIMIT 40""",

    // CUSUM replay: same n-scaled cumulative deviation over observed
    // day periods, arg-max with earliest-period tie-break
    "q_cusum" ->
      """WITH c AS (
           SELECT event_type,
                  epoch_us(ts) // 1000000 // 86400 AS p,
                  count(*) AS c
           FROM events WHERE ts IS NOT NULL GROUP BY 1, 2),
         s AS (
           SELECT event_type, p,
                  sum(c) OVER (PARTITION BY event_type ORDER BY p
                               ROWS UNBOUNDED PRECEDING) AS cum,
                  row_number() OVER (PARTITION BY event_type
                                     ORDER BY p) AS idx,
                  count(*) OVER (PARTITION BY event_type) AS n,
                  sum(c) OVER (PARTITION BY event_type) AS total
           FROM c),
         ns AS (
           SELECT event_type, p, n, total,
                  abs(n * cum - idx * total) AS ns
           FROM s),
         r AS (
           SELECT event_type, p, ns, n, total,
                  row_number() OVER (PARTITION BY event_type
                                     ORDER BY ns DESC, p) AS rk
           FROM ns)
         SELECT event_type, p AS change_period, ns::BIGINT AS n_s_max,
                n::BIGINT AS n_periods, total::BIGINT AS total
         FROM r WHERE rk = 1 ORDER BY event_type""",

    // concentration replay: doubled average rank of the cent value
    // within each priority (2·lt + eq + 1), then the same three sums
    "q_concentration" ->
      """WITH v AS (
           SELECT o_orderpriority AS g,
                  CAST(floor(o_totalprice * 100) AS BIGINT) AS cents
           FROM orders
           WHERE o_totalprice IS NOT NULL
             AND floor(o_totalprice * 100) >= 0),
         r AS (
           SELECT g, cents,
                  2 * (rank() OVER (PARTITION BY g ORDER BY cents) - 1)
                    + count(*) OVER (PARTITION BY g, cents) + 1 AS r2
           FROM v)
         SELECT g AS o_orderpriority, count(*)::BIGINT AS n,
                sum(cents)::BIGINT AS s,
                sum(r2 * cents)::BIGINT AS w2
         FROM r GROUP BY 1 ORDER BY 1""",

    // mode replay: histogram + (count desc, value asc) pick
    "q_group_mode" ->
      """WITH h AS (
           SELECT l_returnflag AS g,
                  CAST(l_quantity AS BIGINT) AS v, count(*) AS c
           FROM lineitem WHERE l_quantity IS NOT NULL GROUP BY 1, 2),
         r AS (
           SELECT g, v, c, sum(c) OVER (PARTITION BY g) AS n,
                  row_number() OVER (PARTITION BY g
                                     ORDER BY c DESC, v) AS rk
           FROM h)
         SELECT g AS l_returnflag, v AS mode, c::BIGINT AS mode_count,
                n::BIGINT AS n
         FROM r WHERE rk = 1 ORDER BY 1""",

    // trend replay: identical epoch-day offsets and cent quantization,
    // plain BIGINT sums
    "q_trend_sums" ->
      """WITH b AS (
           SELECT o_orderpriority AS g,
                  epoch_us(o_orderdate) // 1000000 // 86400 - 8035
                    AS x,
                  CAST(floor(o_totalprice * 100) AS BIGINT) AS y
           FROM orders
           WHERE o_orderdate IS NOT NULL AND o_totalprice IS NOT NULL)
         SELECT g AS o_orderpriority, count(*)::BIGINT AS n,
                sum(x)::BIGINT AS sx, sum(y)::BIGINT AS sy,
                sum(x * y)::BIGINT AS sxy, sum(x * x)::BIGINT AS sxx
         FROM b GROUP BY 1 ORDER BY 1""",

    // interval-union replay: same half-open intervals, running-max
    // island flags ((s, e) is the full sort key, so tied rows are
    // identical and the aggregate is order-invariant), per-run
    // max(e)-min(s) coverage
    "q_interval_union" ->
      """WITH iv AS (
           SELECT event_type AS k,
                  epoch_us(ts) // 1000000 AS s,
                  epoch_us(ts) // 1000000 +
                    greatest(1, CAST(floor(value * 60) AS BIGINT)) AS e
           FROM events WHERE ts IS NOT NULL AND value IS NOT NULL),
         p AS (
           SELECT k, s, e,
                  max(e) OVER (PARTITION BY k ORDER BY s, e
                    ROWS BETWEEN UNBOUNDED PRECEDING
                    AND 1 PRECEDING) AS pmax
           FROM iv WHERE e > s),
         r AS (
           SELECT k, s, e,
                  CASE WHEN pmax IS NULL OR s > pmax THEN 1 ELSE 0 END
                    AS newf
           FROM p),
         ru AS (
           SELECT *, sum(newf) OVER (PARTITION BY k ORDER BY s, e
                       ROWS UNBOUNDED PRECEDING) AS run
           FROM r),
         runs AS (
           SELECT k, run, max(e) - min(s) AS cov, count(*) AS n
           FROM ru GROUP BY 1, 2)
         SELECT k AS event_type, sum(cov)::BIGINT AS covered_sec,
                count(*)::BIGINT AS n_merged, sum(n)::BIGINT AS n_input
         FROM runs GROUP BY 1 ORDER BY 1""",

    // weighted-median replay: same (group, value) weight histogram,
    // cumulative-weight crossing at ceil(W/2)
    "q_weighted_median" ->
      """WITH h AS (
           SELECT l_linestatus AS g, l_extendedprice AS v,
                  sum(CAST(l_quantity AS BIGINT)) AS w, count(*) AS c
           FROM lineitem
           WHERE l_extendedprice IS NOT NULL
             AND l_quantity IS NOT NULL AND l_quantity > 0
           GROUP BY 1, 2),
         r AS (
           SELECT g, v, w, c,
                  sum(w) OVER (PARTITION BY g ORDER BY v
                               ROWS UNBOUNDED PRECEDING) AS cum,
                  sum(w) OVER (PARTITION BY g) AS tw,
                  sum(c) OVER (PARTITION BY g) AS n
           FROM h)
         SELECT g AS l_linestatus, v AS quantile, tw::BIGINT AS w,
                n::BIGINT AS n
         FROM r
         WHERE cum - w < (tw + 1) // 2 AND (tw + 1) // 2 <= cum
         ORDER BY 1""",

    // p90 replay: k = ceil(9n/10)-th smallest stored value
    "q_group_p90" ->
      """WITH h AS (
           SELECT l_linestatus AS g, l_extendedprice AS v,
                  count(*) AS c
           FROM lineitem WHERE l_extendedprice IS NOT NULL
           GROUP BY 1, 2),
         r AS (
           SELECT g, v, c,
                  sum(c) OVER (PARTITION BY g ORDER BY v
                               ROWS UNBOUNDED PRECEDING) AS cum,
                  sum(c) OVER (PARTITION BY g) AS n
           FROM h)
         SELECT g AS l_linestatus, v AS quantile, n::BIGINT AS n
         FROM r
         WHERE cum - c < (9 * n + 9) // 10 AND (9 * n + 9) // 10 <= cum
         ORDER BY 1""",

    // heavy-hitters replay: sketch-free exact counts — the engine's
    // Misra-Gries pass only bounds which rows its exact pass touches,
    // the RESULT is the plain >1%-of-group predicate
    "q_heavy_hitters" ->
      """WITH c AS (
           SELECT event_type, user_id, count(*) AS n
           FROM events WHERE user_id IS NOT NULL GROUP BY 1, 2),
         t AS (
           SELECT event_type, sum(n) AS tot FROM c GROUP BY 1)
         SELECT c.event_type, c.user_id, c.n::BIGINT AS n,
                t.tot::BIGINT AS group_total
         FROM c JOIN t USING (event_type)
         WHERE c.n * 100 > t.tot
         ORDER BY event_type, user_id""",

    // KMV replay: the k-min set re-derived with a window rank over
    // distinct keys; est = (k-1)*2^52 // kth = 63*4503599627370496 //
    // kth. The ALL row is the plain global KMV — equal to the
    // engine's per-group sketch MERGE because each global k-min hash
    // is also among its own group's k smallest
    "q_kmv_distinct" ->
      """WITH keys AS (
           SELECT DISTINCT o_orderpriority AS grp, o_custkey AS c
           FROM orders WHERE o_custkey IS NOT NULL),
         h AS (
           SELECT grp, c,
                  ('0x' || substr(md5(c::VARCHAR), 1, 13))::BIGINT AS h
           FROM keys),
         r AS (
           SELECT grp, h,
                  row_number() OVER (PARTITION BY grp
                                     ORDER BY h, c) AS rn,
                  count(*) OVER (PARTITION BY grp) AS n_exact
           FROM h),
         g AS (
           SELECT grp, max(n_exact) AS n_exact,
                  max(CASE WHEN rn = 64 THEN h END) AS kth_hash
           FROM r GROUP BY grp),
         ra AS (
           SELECT h,
                  row_number() OVER (ORDER BY h, c) AS rn,
                  count(*) OVER () AS n_exact
           FROM (SELECT DISTINCT o_custkey AS c,
                        ('0x' || substr(md5(o_custkey::VARCHAR),
                                        1, 13))::BIGINT AS h
                 FROM orders WHERE o_custkey IS NOT NULL)),
         ga AS (
           SELECT 'ALL' AS grp, COALESCE(max(n_exact), 0) AS n_exact,
                  max(CASE WHEN rn = 64 THEN h END) AS kth_hash
           FROM ra),
         u AS (SELECT * FROM g UNION ALL SELECT * FROM ga)
         SELECT grp, n_exact::BIGINT AS n_exact, kth_hash,
                CASE WHEN kth_hash IS NULL OR kth_hash = 0
                       THEN n_exact::BIGINT
                     ELSE 283726776524341248 // kth_hash END AS est
         FROM u ORDER BY grp""",

    // Benford replay: identical 1e9-scaled log10(1+1/d) literals —
    // the deviation stays a pure-integer expression in both engines
    "q_benford" ->
      """WITH d AS (
           SELECT substr(floor(o_totalprice)::BIGINT::VARCHAR,
                         1, 1)::INT AS digit
           FROM orders
           WHERE o_totalprice IS NOT NULL AND o_totalprice >= 1),
         c AS (SELECT digit, count(*) AS n_d FROM d GROUP BY digit),
         t AS (SELECT digit, n_d, sum(n_d) OVER () AS n_total FROM c)
         SELECT digit, n_d::BIGINT AS n_d, n_total::BIGINT AS n_total,
                (n_d * 1000000000 - n_total *
                 CASE digit
                   WHEN 1 THEN 301029995 WHEN 2 THEN 176091259
                   WHEN 3 THEN 124938736 WHEN 4 THEN 96910013
                   WHEN 5 THEN 79181246 WHEN 6 THEN 66946789
                   WHEN 7 THEN 57991946 WHEN 8 THEN 51152522
                   ELSE 45757490 END)::BIGINT AS dev_scaled
         FROM t ORDER BY digit""",

    // two-sample KS replay: cumulative per-cohort counts over distinct
    // integer cents; D's exact numerator max|n2*F1 - n1*F2| and the
    // smallest value attaining it
    "q_ks_2samp" ->
      """WITH pv AS (
           SELECT round(l_extendedprice * 100)::BIGINT AS v,
                  sum(CASE WHEN l_returnflag = 'R' THEN 1
                      ELSE 0 END) AS c1,
                  sum(CASE WHEN l_returnflag = 'R' THEN 0
                      ELSE 1 END) AS c2
           FROM lineitem WHERE l_extendedprice IS NOT NULL
           GROUP BY 1),
         c AS (
           SELECT v,
                  sum(c1) OVER (ORDER BY v) AS f1,
                  sum(c2) OVER (ORDER BY v) AS f2,
                  sum(c1) OVER () AS n1,
                  sum(c2) OVER () AS n2
           FROM pv)
         SELECT n1::BIGINT AS n1, n2::BIGINT AS n2,
                abs(n2 * f1 - n1 * f2)::BIGINT AS d_num,
                v AS arg_value
         FROM c
         ORDER BY abs(n2 * f1 - n1 * f2) DESC, v ASC
         LIMIT 1""",

    // k-core replay: the same 3 peel rounds unrolled — degree
    // aggregate, keep >= 3, edge filter — then final degrees
    // p/e0/e1/e2 AS MATERIALIZED: each round's edge CTE is referenced
    // twice (degree count + next round's join); DuckDB would otherwise
    // INLINE them, re-deriving e0 once per reference transitively —
    // measured 263 s -> 0.7 s at sf0.1 with identical results
    "q_kcore" ->
      """WITH p AS MATERIALIZED (
           SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
           WHERE l_orderkey IS NOT NULL AND l_partkey IS NOT NULL),
         e0 AS MATERIALIZED (
           SELECT a.l_partkey AS a, b.l_partkey AS b
           FROM p a JOIN p b ON a.l_orderkey = b.l_orderkey
                            AND a.l_partkey < b.l_partkey
           GROUP BY 1, 2 HAVING count(*) >= 2),
         d0 AS (SELECT v, count(*) AS deg FROM (
                  SELECT a AS v FROM e0
                  UNION ALL SELECT b AS v FROM e0) GROUP BY 1),
         k0 AS (SELECT v FROM d0 WHERE deg >= 3),
         e1 AS MATERIALIZED (SELECT e.a, e.b FROM e0 e
                JOIN k0 ka ON e.a = ka.v JOIN k0 kb ON e.b = kb.v),
         d1 AS (SELECT v, count(*) AS deg FROM (
                  SELECT a AS v FROM e1
                  UNION ALL SELECT b AS v FROM e1) GROUP BY 1),
         k1 AS (SELECT v FROM d1 WHERE deg >= 3),
         e2 AS MATERIALIZED (SELECT e.a, e.b FROM e1 e
                JOIN k1 ka ON e.a = ka.v JOIN k1 kb ON e.b = kb.v),
         d2 AS (SELECT v, count(*) AS deg FROM (
                  SELECT a AS v FROM e2
                  UNION ALL SELECT b AS v FROM e2) GROUP BY 1),
         k2 AS (SELECT v FROM d2 WHERE deg >= 3),
         e3 AS (SELECT e.a, e.b FROM e2 e
                JOIN k2 ka ON e.a = ka.v JOIN k2 kb ON e.b = kb.v)
         SELECT v, count(*)::BIGINT AS deg FROM (
           SELECT a AS v FROM e3
           UNION ALL SELECT b AS v FROM e3) GROUP BY 1 ORDER BY v""",

    // streaming heavy-hitters replay: sketch-free exact predicate —
    // the streamed Misra-Gries state only bounded which users the
    // engine's exact pass counted
    "q_stream_hh" ->
      """WITH c AS (
           SELECT event_type, user_id, count(*) AS n
           FROM events WHERE user_id IS NOT NULL GROUP BY 1, 2),
         t AS (
           SELECT event_type, sum(n) AS tot FROM c GROUP BY 1)
         SELECT c.event_type, c.user_id, c.n::BIGINT AS n,
                t.tot::BIGINT AS group_total
         FROM c JOIN t USING (event_type)
         WHERE c.n * 150 > t.tot
         ORDER BY event_type, user_id""",

    // streaming KMV replay: the drained per-group k-min state equals
    // the batch sketch (mergeable summaries), so the window-rank KMV
    // of the full table replays it; truth column is the plain
    // distinct count
    "q_stream_distinct" ->
      """WITH keys AS (
           SELECT DISTINCT event_type AS grp, user_id AS c
           FROM events WHERE user_id IS NOT NULL),
         h AS (
           SELECT grp, c,
                  ('0x' || substr(md5(c::VARCHAR), 1, 13))::BIGINT AS h
           FROM keys),
         r AS (
           SELECT grp, h,
                  row_number() OVER (PARTITION BY grp
                                     ORDER BY h, c) AS rn,
                  count(*) OVER (PARTITION BY grp) AS n_exact
           FROM h),
         g AS (
           SELECT grp, max(n_exact) AS n_exact,
                  max(CASE WHEN rn = 64 THEN h END) AS kth_hash
           FROM r GROUP BY grp)
         SELECT grp, n_exact::BIGINT AS n_exact, kth_hash,
                CASE WHEN kth_hash IS NULL OR kth_hash = 0
                       THEN n_exact::BIGINT
                     ELSE 283726776524341248 // kth_hash END AS est
         FROM g ORDER BY grp""",

    // iv-folds replay: same deterministic fold key, per-(fold, bin)
    // counts, per-fold totals, the xlogy-convention IV sum at 6dp
    "q_iv_folds" ->
      """WITH b AS (
           SELECT (l_orderkey + l_linenumber) % 8 AS fold,
                  CASE WHEN l_extendedprice < 25000 THEN 0
                       WHEN l_extendedprice < 50000 THEN 1
                       WHEN l_extendedprice < 75000 THEN 2
                       ELSE 3 END AS bin,
                  CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS y
           FROM lineitem),
         a AS (
           SELECT fold, bin, sum(y)::DOUBLE AS e,
                  (count(*) - sum(y))::DOUBLE AS ne
           FROM b GROUP BY 1, 2),
         t AS (SELECT fold, sum(e) AS te, sum(ne) AS tne
               FROM a GROUP BY 1)
         SELECT a.fold::BIGINT AS fold,
                sum(e + ne)::BIGINT AS n, sum(e)::BIGINT AS n_event,
                round(sum(CASE WHEN e > 0 AND ne > 0
                          THEN (ne / tne - e / te)
                               * ln((ne / tne) / (e / te))
                          ELSE 0 END), 6) AS iv
         FROM a JOIN t USING (fold) GROUP BY 1 ORDER BY 1""",

    // JSON-audit replay: the same deterministic damage, then
    // json_valid for the corrupt census and json_extract for the
    // missing-key census — Spark's PERMISSIVE corrupt-record column is
    // set exactly when the payload fails to parse
    "q_json_audit" ->
      """WITH d AS (
           SELECT event_type,
                  CASE WHEN event_id % 7 = 0
                         THEN substring(props, 1, length(props) - 1)
                       WHEN event_id % 11 = 0
                         THEN replace(props, '"k"', '"x"')
                       ELSE props END AS p
           FROM events),
         j AS (
           SELECT event_type,
                  CASE WHEN NOT json_valid(p) THEN 1 ELSE 0 END AS corrupt,
                  CASE WHEN json_valid(p)
                       THEN TRY_CAST(json_extract(p, '$.k') AS INTEGER)
                       END AS k
           FROM d)
         SELECT event_type, count(*)::BIGINT AS n_rows,
                sum(corrupt)::BIGINT AS n_corrupt,
                sum(CASE WHEN corrupt = 0 AND k IS NULL THEN 1
                         ELSE 0 END)::BIGINT AS n_missing_key,
                COALESCE(sum(k), 0)::BIGINT AS sum_k_parsed
         FROM j GROUP BY 1 ORDER BY 1""",

    // JSON-extract replay: DuckDB's json_extract on the same path,
    // same null-exclusion of unparseable rows
    "q_json_extract" ->
      """WITH j AS (
           SELECT event_type,
                  TRY_CAST(json_extract(props, '$.k') AS INTEGER) AS k
           FROM events)
         SELECT event_type, count(*)::BIGINT AS n,
                sum(k)::BIGINT AS sum_k, min(k) AS min_k,
                max(k) AS max_k, count(DISTINCT k)::BIGINT AS nd_k
         FROM j WHERE k IS NOT NULL
         GROUP BY 1 ORDER BY 1""",

    // ORC round-trip replay: direct aggregates over the raw table —
    // equality proves the ORC write/read preserved every value
    "q_orc_roundtrip" ->
      """SELECT o_orderpriority, count(*)::BIGINT AS n,
                sum(CAST(floor(o_totalprice * 100) AS BIGINT))::BIGINT
                  AS sum_cents,
                sum(o_orderkey)::BIGINT AS key_sum
         FROM orders GROUP BY 1 ORDER BY 1""",

    // Gains replay: same 8-band CASE, rate-desc rank (one IEEE
    // division on both engines), bounded-window cumsums, truncated-ppm
    // integer shares; lift as a single rounded double
    "q_gains_table" ->
      s"""WITH b AS (
           SELECT $liBand8Sql AS bin,
                  CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS y
           FROM lineitem),
         a AS (SELECT bin, count(*) AS n, sum(y) AS e FROM b GROUP BY 1),
         r AS (SELECT *, row_number() OVER (
                 ORDER BY e::DOUBLE / n DESC, bin) AS rank FROM a),
         c AS (SELECT rank, bin, n, e,
                      sum(n) OVER w AS cum_n, sum(e) OVER w AS cum_e,
                      sum(n) OVER () AS tot_n, sum(e) OVER () AS tot_e
               FROM r WINDOW w AS (ORDER BY rank
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
         SELECT rank::BIGINT AS rank, bin::BIGINT AS bin,
                n::BIGINT AS n, e::BIGINT AS n_event,
                cum_n::BIGINT AS cum_n, cum_e::BIGINT AS cum_event,
                CASE WHEN tot_e > 0
                     THEN ((1000000 * cum_e) // tot_e)::BIGINT END
                  AS capture_ppm,
                ((1000000 * cum_n) // tot_n)::BIGINT AS depth_ppm,
                CASE WHEN tot_e > 0
                     THEN round(cum_e::DOUBLE * tot_n::DOUBLE
                                / (cum_n::DOUBLE * tot_e::DOUBLE), 6)
                END AS lift6
         FROM c ORDER BY rank""",

    // Threshold-sweep replay: identical ranked cumsums, then the
    // integer confusion matrix and 5*FN + 1*FP argmin (smallest k)
    "q_threshold_sweep" ->
      s"""WITH b AS (
           SELECT $liBand8Sql AS bin,
                  CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS y
           FROM lineitem),
         a AS (SELECT bin, count(*) AS n, sum(y) AS e FROM b GROUP BY 1),
         r AS (SELECT *, row_number() OVER (
                 ORDER BY e::DOUBLE / n DESC, bin) AS k FROM a),
         c AS (SELECT k, bin,
                      sum(e) OVER w AS tp,
                      sum(n) OVER w - sum(e) OVER w AS fp,
                      sum(e) OVER () - sum(e) OVER w AS fn,
                      (sum(n) OVER () - sum(e) OVER ())
                        - (sum(n) OVER w - sum(e) OVER w) AS tn
               FROM r WINDOW w AS (ORDER BY k
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
         co AS (SELECT *, 5 * fn + 1 * fp AS cost FROM c),
         mc AS (SELECT *, min(cost) OVER () AS min_cost FROM co),
         m AS (SELECT *,
                      min(CASE WHEN cost = min_cost THEN k END)
                        OVER () AS best_k
               FROM mc)
         SELECT k::BIGINT AS k, bin::BIGINT AS bin, tp::BIGINT AS tp,
                fp::BIGINT AS fp, fn::BIGINT AS fn, tn::BIGINT AS tn,
                cost::BIGINT AS cost,
                (CASE WHEN k = best_k THEN 1 ELSE 0 END)::BIGINT
                  AS is_best
         FROM m ORDER BY k""",

    // Characteristic-analysis replay: per variable, train-cohort
    // closed-form WoE at the pinned splits (rounded to 6 FIRST — the
    // engine multiplies the rounded woe), truncated-ppm population
    // shares, rounded shift mass
    "q_char_analysis" ->
      """WITH li AS (
           SELECT l_orderkey % 2 AS half,
                  CASE WHEN l_extendedprice < 25000 THEN 0
                       WHEN l_extendedprice < 50000 THEN 1
                       WHEN l_extendedprice < 75000 THEN 2
                       ELSE 3 END AS bin_p,
                  CASE WHEN l_quantity < 10 THEN 0
                       WHEN l_quantity < 25 THEN 1
                       WHEN l_quantity < 40 THEN 2
                       ELSE 3 END AS bin_q,
                  CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS y
           FROM lineitem),
         u AS (
           SELECT 'l_extendedprice' AS variable, half, bin_p AS bin, y
           FROM li
           UNION ALL
           SELECT 'l_quantity' AS variable, half, bin_q AS bin, y
           FROM li),
         tr AS (SELECT variable, bin, count(*) AS n_train,
                       sum(y) AS e_train
                FROM u WHERE half = 0 GROUP BY 1, 2),
         te AS (SELECT variable, bin, count(*) AS n_test
                FROM u WHERE half = 1 GROUP BY 1, 2),
         j AS (
           SELECT COALESCE(tr.variable, te.variable) AS variable,
                  COALESCE(tr.bin, te.bin) AS bin,
                  COALESCE(n_train, 0) AS n_train,
                  COALESCE(e_train, 0) AS e_train,
                  COALESCE(n_test, 0) AS n_test
           FROM tr FULL OUTER JOIN te
             ON tr.variable = te.variable AND tr.bin = te.bin),
         t AS (
           SELECT *, sum(n_train) OVER pv AS tot_train,
                  sum(e_train) OVER pv AS tot_e,
                  sum(n_test) OVER pv AS tot_test,
                  n_train - e_train AS ne_train,
                  sum(n_train) OVER pv - sum(e_train) OVER pv AS tot_ne
           FROM j WINDOW pv AS (PARTITION BY variable)),
         w AS (
           SELECT *, round(CASE WHEN e_train > 0 AND ne_train > 0
                  THEN ln((ne_train::DOUBLE / tot_ne) /
                          (e_train::DOUBLE / tot_e))
                  ELSE 0.0 END, 6) AS woe6
           FROM t)
         SELECT variable, bin::BIGINT AS bin, n_train::BIGINT AS n_train,
                n_test::BIGINT AS n_test,
                CASE WHEN tot_train > 0
                     THEN ((1000000 * n_train) // tot_train)::BIGINT END
                  AS pct_train_ppm,
                CASE WHEN tot_test > 0
                     THEN ((1000000 * n_test) // tot_test)::BIGINT END
                  AS pct_test_ppm,
                woe6,
                CASE WHEN tot_train > 0 AND tot_test > 0
                     THEN round((n_test::DOUBLE / tot_test -
                                 n_train::DOUBLE / tot_train) * woe6, 6)
                END AS shift6
         FROM w ORDER BY variable, bin""",

    // Migration-matrix replay: integer-cents spend bands per customer
    // in each half, inner join on the customer, ppm row shares
    "q_migration_matrix" ->
      """WITH a AS (
           SELECT o_custkey,
                  sum(CAST(floor(o_totalprice * 100) AS BIGINT)) AS sp
           FROM orders WHERE o_orderdate < TIMESTAMP '1998-06-01'
           GROUP BY 1),
         b AS (
           SELECT o_custkey,
                  sum(CAST(floor(o_totalprice * 100) AS BIGINT)) AS sp
           FROM orders WHERE o_orderdate >= TIMESTAMP '1998-06-01'
           GROUP BY 1),
         ba AS (SELECT o_custkey,
                       CASE WHEN sp < 15000000 THEN 0
                            WHEN sp < 30000000 THEN 1
                            WHEN sp < 45000000 THEN 2
                            ELSE 3 END AS band_from
                FROM a),
         bb AS (SELECT o_custkey,
                       CASE WHEN sp < 15000000 THEN 0
                            WHEN sp < 30000000 THEN 1
                            WHEN sp < 45000000 THEN 2
                            ELSE 3 END AS band_to
                FROM b),
         m AS (SELECT band_from, band_to, count(*) AS n
               FROM ba JOIN bb USING (o_custkey) GROUP BY 1, 2)
         SELECT band_from::BIGINT AS band_from,
                band_to::BIGINT AS band_to, n::BIGINT AS n,
                ((1000000 * n) //
                 sum(n) OVER (PARTITION BY band_from))::BIGINT
                  AS share_ppm
         FROM m ORDER BY 1, 2""",

    // Vintage replay: same cohort/age month arithmetic, cohort-
    // partitioned cumulative events, truncated-ppm rate of
    // non-negative integers
    "q_vintage" ->
      """WITH o AS (
           SELECT o_orderkey,
                  date_part('year', o_orderdate) * 100 +
                    date_part('month', o_orderdate) AS cohort,
                  date_part('year', o_orderdate) * 12 +
                    date_part('month', o_orderdate) AS om
           FROM orders),
         f AS (
           SELECT cohort,
                  (date_part('year', l_shipdate) * 12 +
                   date_part('month', l_shipdate)) - om AS age,
                  CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS ev
           FROM lineitem JOIN o ON l_orderkey = o_orderkey),
         a AS (SELECT cohort, age, count(*) AS n, sum(ev) AS e
               FROM f WHERE age >= 0 GROUP BY 1, 2),
         c AS (SELECT cohort, age, n, e,
                      sum(e) OVER (PARTITION BY cohort ORDER BY age
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT
                        ROW) AS cum_e,
                      sum(n) OVER (PARTITION BY cohort) AS n_cohort
               FROM a)
         SELECT cohort::BIGINT AS cohort, age::BIGINT AS age,
                n::BIGINT AS n, e::BIGINT AS n_event,
                cum_e::BIGINT AS cum_event,
                n_cohort::BIGINT AS n_cohort,
                ((1000000 * cum_e) // n_cohort)::BIGINT AS rate_ppm
         FROM c ORDER BY 1, 2""",

    // Seasonal-decomposition replay: per-type daily counts, zero-
    // filled corpus-range spine, centered 7-day window sum, interior
    // days only, dow rollup (DuckDB dow: Sunday=0 — the engine emits
    // dayofweek-1 to match)
    "q_seasonal_decompose" ->
      """WITH daily AS (
           SELECT event_type AS g, CAST(ts AS DATE) AS d,
                  count(*) AS n
           FROM events WHERE ts IS NOT NULL GROUP BY 1, 2),
         r AS (SELECT min(d) AS mn, max(d) AS mx FROM daily),
         spine AS (
           SELECT g, CAST(unnest(generate_series(r.mn, r.mx,
                            INTERVAL 1 DAY)) AS DATE) AS d
           FROM (SELECT DISTINCT g FROM daily) gg, r),
         filled AS (
           SELECT s.g, s.d, COALESCE(daily.n, 0) AS n
           FROM spine s LEFT JOIN daily USING (g, d)),
         wnd AS (
           SELECT g, d, n,
                  sum(n) OVER (PARTITION BY g ORDER BY d
                    ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)
                    AS trend7,
                  row_number() OVER (PARTITION BY g ORDER BY d) AS i,
                  count(*) OVER (PARTITION BY g) AS days
           FROM filled)
         SELECT g AS event_type, dayofweek(d)::BIGINT AS dow,
                count(*)::BIGINT AS n_days, sum(n)::BIGINT AS sum_count,
                sum(7 * n - trend7)::BIGINT AS sum_detr_x7,
                sum(trend7)::BIGINT AS trend7_sum
         FROM wnd WHERE i > 3 AND i <= days - 3
         GROUP BY 1, 2 ORDER BY 1, 2""",

    // Item-neighbor replay: distinct (basket, item), brute pair
    // self-join (the engine's within-basket generator proves the same
    // set), Jaccard ppm, row_number rank, 20-item head
    "q_item_neighbors" ->
      """WITH bi AS (SELECT DISTINCT l_orderkey AS b, l_partkey AS i
                     FROM lineitem),
         ci AS (SELECT i, count(*) AS c FROM bi GROUP BY 1),
         p AS (SELECT a.i AS ia, bb.i AS ib, count(*) AS cij
               FROM bi a JOIN bi bb ON a.b = bb.b AND a.i < bb.i
               GROUP BY 1, 2),
         sym AS (SELECT ia AS item, ib AS neighbor, cij FROM p
                 UNION ALL SELECT ib, ia, cij FROM p),
         jac AS (SELECT item, neighbor, cij, ca.c AS c_item,
                        cb.c AS c_neighbor,
                        (1000000 * cij) // (ca.c + cb.c - cij)
                          AS jaccard_ppm
                 FROM sym JOIN ci ca ON sym.item = ca.i
                          JOIN ci cb ON sym.neighbor = cb.i),
         r AS (SELECT *, row_number() OVER (PARTITION BY item
                 ORDER BY jaccard_ppm DESC, neighbor) AS rank
               FROM jac),
         head AS (SELECT ci.i FROM ci
                  JOIN (SELECT DISTINCT item FROM jac) t
                    ON ci.i = t.item
                  ORDER BY ci.c DESC, ci.i LIMIT 20)
         SELECT item::BIGINT AS item, rank::BIGINT AS rank,
                neighbor::BIGINT AS neighbor,
                jaccard_ppm::BIGINT AS jaccard_ppm,
                cij::BIGINT AS c_pair, c_item::BIGINT AS c_item,
                c_neighbor::BIGINT AS c_neighbor
         FROM r JOIN head ON r.item = head.i
         WHERE rank <= 3 ORDER BY item, rank""",

    // BPE replay: weighted char-split vocabulary, then 4 unrolled
    // merge rounds — pair counts via 1-based adjacent indexing,
    // argmax with the same tie-break, replace() with the same
    // left-to-right non-overlapping semantics as the engine
    "q_bpe_merges" ->
      s"""WITH $bpeTrainCtes
         SELECT 1::BIGINT AS round, p1 AS pair_left, p2 AS pair_right,
                p1 || p2 AS merged, f::BIGINT AS freq,
                (SELECT sum(cnt * len(string_split(syms, ' ')))
                 FROM v1)::BIGINT AS corpus_tokens_after
         FROM b1
         UNION ALL
         SELECT 2, p1, p2, p1 || p2, f::BIGINT,
                (SELECT sum(cnt * len(string_split(syms, ' ')))
                 FROM v2)::BIGINT
         FROM b2
         UNION ALL
         SELECT 3, p1, p2, p1 || p2, f::BIGINT,
                (SELECT sum(cnt * len(string_split(syms, ' ')))
                 FROM v3)::BIGINT
         FROM b3
         UNION ALL
         SELECT 4, p1, p2, p1 || p2, f::BIGINT,
                (SELECT sum(cnt * len(string_split(syms, ' ')))
                 FROM v4)::BIGINT
         FROM b4
         ORDER BY round""",

    // exact-merge BPE replay: the same 4-round chain with each
    // round's replace iterated to the per-word FIXPOINT (recursive
    // CTE keyed by the original word — see bpeExactTrainCtes)
    "q_bpe_exact" ->
      s"""WITH RECURSIVE $bpeExactTrainCtes
         SELECT 1::BIGINT AS round, p1 AS pair_left, p2 AS pair_right,
                p1 || p2 AS merged, f::BIGINT AS freq,
                (SELECT sum(cnt * len(string_split(syms, ' ')))
                 FROM e1)::BIGINT AS corpus_tokens_after
         FROM bx1
         UNION ALL
         SELECT 2, p1, p2, p1 || p2, f::BIGINT,
                (SELECT sum(cnt * len(string_split(syms, ' ')))
                 FROM e2)::BIGINT
         FROM bx2
         UNION ALL
         SELECT 3, p1, p2, p1 || p2, f::BIGINT,
                (SELECT sum(cnt * len(string_split(syms, ' ')))
                 FROM e3)::BIGINT
         FROM bx3
         UNION ALL
         SELECT 4, p1, p2, p1 || p2, f::BIGINT,
                (SELECT sum(cnt * len(string_split(syms, ' ')))
                 FROM e4)::BIGINT
         FROM bx4
         ORDER BY round""",

    // tokenizer APPLY replay: the SAME training chain, then exact
    // BIGINT encode tallies over the final vocabulary v4 (base chars
    // = symbols minus spaces; merges only delete delimiters)
    "q_bpe_encode" ->
      s"""WITH $bpeTrainCtes,
         ag AS (
           SELECT sum(cnt)::BIGINT AS total_words,
                  sum(cnt * length(replace(syms, ' ', '')))::BIGINT
                    AS base_tokens,
                  sum(cnt * len(string_split(syms, ' ')))::BIGINT
                    AS encoded_tokens,
                  sum(cnt * len(list_filter(string_split(syms, ' '),
                                            x -> length(x) > 1)))
                    ::BIGINT AS merged_occurrences
           FROM v4),
         ds AS (
           SELECT count(DISTINCT s)::BIGINT AS distinct_symbols
           FROM (SELECT unnest(string_split(syms, ' ')) AS s FROM v4)),
         nd AS (
           SELECT count(*)::BIGINT AS n_docs FROM documents
           WHERE text IS NOT NULL)
         SELECT nd.n_docs, ag.total_words, ag.base_tokens,
                ag.encoded_tokens, ag.merged_occurrences,
                (ag.encoded_tokens - ag.merged_occurrences)::BIGINT
                  AS single_char_occurrences,
                ds.distinct_symbols,
                (CASE WHEN ag.base_tokens > 0
                      THEN (1000000 * ag.encoded_tokens)
                           // ag.base_tokens
                      ELSE 0 END)::BIGINT AS compression_ppm,
                (CASE WHEN nd.n_docs > 0
                      THEN (1000 * ag.encoded_tokens) // nd.n_docs
                      ELSE 0 END)::BIGINT AS tokens_per_doc_milli
         FROM ag, ds, nd""",

    // LPA replay: the q_kcore co-purchase edge set, 3 unrolled
    // synchronous rounds with the (count desc, label asc) argmax as a
    // row_number pick. AS MATERIALIZED pins each multiply-referenced
    // CTE (the q_kcore lesson — DuckDB otherwise re-derives the edge
    // list per reference, transitively)
    "q_lpa_communities" ->
      """WITH bi AS MATERIALIZED (
           SELECT DISTINCT l_orderkey AS b, l_partkey AS i
           FROM lineitem),
         e0 AS MATERIALIZED (
           SELECT a.i AS x, bb.i AS y, count(*) AS c
           FROM bi a JOIN bi bb ON a.b = bb.b AND a.i < bb.i
           GROUP BY 1, 2),
         sym AS MATERIALIZED (
           SELECT x AS src, y AS dst FROM e0 WHERE c >= 2
           UNION
           SELECT y, x FROM e0 WHERE c >= 2),
         l0 AS (SELECT DISTINCT src AS v, src AS lbl FROM sym),
         c1 AS (SELECT s.dst AS v, l.lbl, count(*) AS c
                FROM sym s JOIN l0 l ON s.src = l.v GROUP BY 1, 2),
         l1 AS MATERIALIZED (
           SELECT v, lbl FROM (
             SELECT v, lbl, row_number() OVER (PARTITION BY v
               ORDER BY c DESC, lbl) AS rn FROM c1) WHERE rn = 1),
         c2 AS (SELECT s.dst AS v, l.lbl, count(*) AS c
                FROM sym s JOIN l1 l ON s.src = l.v GROUP BY 1, 2),
         l2 AS MATERIALIZED (
           SELECT v, lbl FROM (
             SELECT v, lbl, row_number() OVER (PARTITION BY v
               ORDER BY c DESC, lbl) AS rn FROM c2) WHERE rn = 1),
         c3 AS (SELECT s.dst AS v, l.lbl, count(*) AS c
                FROM sym s JOIN l2 l ON s.src = l.v GROUP BY 1, 2),
         l3 AS (
           SELECT v, lbl FROM (
             SELECT v, lbl, row_number() OVER (PARTITION BY v
               ORDER BY c DESC, lbl) AS rn FROM c3) WHERE rn = 1)
         SELECT lbl::BIGINT AS community,
                count(*)::BIGINT AS n_members,
                min(v)::BIGINT AS min_member,
                max(v)::BIGINT AS max_member
         FROM l3 GROUP BY 1 ORDER BY 1""",

    // Freshness replay: per-(source, epoch-day) cells, corpus maxima
    // as windows over the bounded cell table, integer lags. The
    // streaming twin maintains the same additive cells, so both map
    // to the same SQL.
    "q_freshness" -> freshnessSql,
    "q_stream_freshness" -> freshnessSql,

    // Tokenizer-pipeline replay: quality gate (same whitespace token
    // count), min-doc_id exact dedup, then the 2-round BPE chain over
    // the deduped corpus with the censuses cross-joined in
    "q_tokenizer_pipeline" ->
      """WITH kept AS MATERIALIZED (
           SELECT doc_id, text FROM documents
           WHERE text IS NOT NULL
             AND (CASE WHEN length(trim(text)) = 0 THEN 0
                  ELSE len(string_split_regex(trim(text), '\s+')) END)
                 >= 20),
         uniq AS MATERIALIZED (
           SELECT min(doc_id) AS doc_id, text FROM kept GROUP BY text),
         census AS (
           SELECT (SELECT count(*) FROM documents) AS n_docs,
                  (SELECT count(*) FROM kept) AS n_kept,
                  (SELECT count(*) FROM uniq) AS n_unique),
         words AS (
           SELECT unnest(string_split_regex(lower(text), ' +')) AS w
           FROM uniq),
         v0 AS (
           SELECT trim(regexp_replace(w, '(.)', '\1 ', 'g')) AS syms,
                  count(*) AS cnt
           FROM words WHERE length(w) > 0 GROUP BY 1),
         pf1 AS (
           SELECT a[i] AS p1, a[i + 1] AS p2, sum(cnt) AS f
           FROM (SELECT a, cnt, unnest(range(1, len(a))) AS i
                 FROM (SELECT string_split(syms, ' ') AS a, cnt
                       FROM v0) t
                 WHERE len(a) >= 2)
           GROUP BY 1, 2),
         b1 AS (SELECT p1, p2, f FROM pf1
                ORDER BY f DESC, p1, p2 LIMIT 1),
         v1 AS (SELECT trim(replace(' ' || syms || ' ',
                         ' ' || b1.p1 || ' ' || b1.p2 || ' ',
                         ' ' || b1.p1 || b1.p2 || ' ')) AS syms, cnt
                FROM v0, b1),
         pf2 AS (
           SELECT a[i] AS p1, a[i + 1] AS p2, sum(cnt) AS f
           FROM (SELECT a, cnt, unnest(range(1, len(a))) AS i
                 FROM (SELECT string_split(syms, ' ') AS a, cnt
                       FROM v1) t
                 WHERE len(a) >= 2)
           GROUP BY 1, 2),
         b2 AS (SELECT p1, p2, f FROM pf2
                ORDER BY f DESC, p1, p2 LIMIT 1),
         v2 AS (SELECT trim(replace(' ' || syms || ' ',
                         ' ' || b2.p1 || ' ' || b2.p2 || ' ',
                         ' ' || b2.p1 || b2.p2 || ' ')) AS syms, cnt
                FROM v1, b2)
         SELECT 1::BIGINT AS round, p1 AS pair_left, p2 AS pair_right,
                p1 || p2 AS merged, f::BIGINT AS freq,
                (SELECT sum(cnt * len(string_split(syms, ' ')))
                 FROM v1)::BIGINT AS corpus_tokens_after,
                n_docs::BIGINT AS n_docs, n_kept::BIGINT AS n_kept,
                n_unique::BIGINT AS n_unique
         FROM b1, census
         UNION ALL
         SELECT 2, p1, p2, p1 || p2, f::BIGINT,
                (SELECT sum(cnt * len(string_split(syms, ' ')))
                 FROM v2)::BIGINT,
                n_docs::BIGINT, n_kept::BIGINT, n_unique::BIGINT
         FROM b2, census
         ORDER BY round""",

    // Forecast-eval replay: the same zero-filled spine, lag-7
    // prediction, integer error sums, first_value argmax for the
    // worst day (abs_err desc, day asc)
    "q_forecast_eval" ->
      """WITH daily AS (
           SELECT event_type AS g, CAST(ts AS DATE) AS d, count(*) AS n
           FROM events WHERE ts IS NOT NULL GROUP BY 1, 2),
         r AS (SELECT min(d) AS mn, max(d) AS mx FROM daily),
         spine AS (
           SELECT g, CAST(unnest(generate_series(r.mn, r.mx,
                            INTERVAL 1 DAY)) AS DATE) AS d
           FROM (SELECT DISTINCT g FROM daily) gg, r),
         filled AS (
           SELECT s.g, s.d, COALESCE(daily.n, 0) AS n
           FROM spine s LEFT JOIN daily USING (g, d)),
         p AS (SELECT g, d, n,
                      lag(n, 7) OVER (PARTITION BY g ORDER BY d) AS pred
               FROM filled),
         e AS (SELECT g, n, n - pred AS err, abs(n - pred) AS abs_err,
                      datediff('day', DATE '1970-01-01', d) AS day_s
               FROM p WHERE pred IS NOT NULL),
         w2 AS (SELECT *, first_value(day_s) OVER (PARTITION BY g
                  ORDER BY abs_err DESC, day_s) AS wd
                FROM e)
         SELECT g AS event_type, count(*)::BIGINT AS n_days_scored,
                sum(n)::BIGINT AS sum_actual,
                sum(abs_err)::BIGINT AS sum_abs_err,
                sum(err)::BIGINT AS sum_err,
                max(wd)::BIGINT AS worst_day_epoch_d
         FROM w2 GROUP BY 1 ORDER BY 1""",

    // CUPED replay: the same integer sufficient statistics, pooled
    // via windows over the arms table, the same fully-cast IEEE
    // expressions for theta and the adjusted means (rounded theta
    // feeds the adjustment, the char-analysis convention)
    "q_cuped" ->
      """WITH pre AS (
           SELECT o_custkey,
                  sum(CAST(floor(o_totalprice) AS BIGINT)) AS x
           FROM orders WHERE o_orderdate < TIMESTAMP '1998-06-01'
           GROUP BY 1),
         post AS (
           SELECT o_custkey,
                  sum(CAST(floor(o_totalprice) AS BIGINT)) AS y
           FROM orders WHERE o_orderdate >= TIMESTAMP '1998-06-01'
           GROUP BY 1),
         u AS (
           SELECT COALESCE(pre.o_custkey, post.o_custkey) AS c,
                  COALESCE(x, 0) AS x, COALESCE(y, 0) AS y
           FROM pre FULL OUTER JOIN post
             ON pre.o_custkey = post.o_custkey),
         g AS (SELECT c % 2 AS t, count(*) AS n_g, sum(x) AS sx_g,
                      sum(y) AS sy_g, sum(x * y) AS sxy_g,
                      sum(x * x) AS sxx_g
               FROM u GROUP BY 1),
         w AS (SELECT *, sum(n_g) OVER () AS n, sum(sx_g) OVER () AS sx,
                      sum(sy_g) OVER () AS sy,
                      sum(sxy_g) OVER () AS sxy,
                      sum(sxx_g) OVER () AS sxx
               FROM g),
         th AS (SELECT *,
                  round(CASE WHEN n::DOUBLE * sxx::DOUBLE -
                                  sx::DOUBLE * sx::DOUBLE = 0.0
                        THEN 0.0
                        ELSE (n::DOUBLE * sxy::DOUBLE -
                              sx::DOUBLE * sy::DOUBLE) /
                             (n::DOUBLE * sxx::DOUBLE -
                              sx::DOUBLE * sx::DOUBLE) END, 6)
                    AS theta6
                FROM w)
         SELECT t::BIGINT AS t, n_g::BIGINT AS n,
                sx_g::BIGINT AS sum_x, sy_g::BIGINT AS sum_y, theta6,
                round(sy_g::DOUBLE / n_g::DOUBLE, 6) AS mean_y6,
                round(sy_g::DOUBLE / n_g::DOUBLE -
                      theta6 * (sx_g::DOUBLE / n_g::DOUBLE -
                                sx::DOUBLE / n::DOUBLE), 6)
                  AS adj_mean_y6
         FROM th ORDER BY t""",

    // SRM replay: the same two arm counts and the same IEEE
    // (n0-n1)^2/n chi-square with the 3.841459 critical value
    "q_ab_srm" ->
      """WITH u AS (SELECT DISTINCT o_custkey FROM orders),
         c AS (SELECT sum(CASE WHEN o_custkey % 2 = 0 THEN 1 ELSE 0
                           END) AS n0,
                      sum(CASE WHEN o_custkey % 2 = 0 THEN 0 ELSE 1
                           END) AS n1
               FROM u)
         SELECT n0::BIGINT AS n0, n1::BIGINT AS n1,
                (n0 + n1)::BIGINT AS n,
                round((n0 - n1)::DOUBLE * (n0 - n1)::DOUBLE /
                      (n0 + n1)::DOUBLE, 6) AS chi2_6,
                (CASE WHEN round((n0 - n1)::DOUBLE * (n0 - n1)::DOUBLE
                             / (n0 + n1)::DOUBLE, 6) > 3.841459
                 THEN 1 ELSE 0 END)::BIGINT AS srm_flag
         FROM c""",

    // DiD replay: one (arm, period) aggregate, conditional 2x2 cell
    // sums, fully-cast means and the interaction effect
    "q_did" ->
      """WITH cells AS (
           SELECT o_custkey % 2 AS t,
                  CASE WHEN o_orderdate >= TIMESTAMP '1998-06-01'
                       THEN 1 ELSE 0 END AS p,
                  count(*) AS n,
                  sum(CAST(floor(o_totalprice) AS BIGINT)) AS sy
           FROM orders GROUP BY 1, 2),
         a AS (
           SELECT
             sum(CASE WHEN t = 0 AND p = 0 THEN n ELSE 0 END) AS n_00,
             sum(CASE WHEN t = 0 AND p = 1 THEN n ELSE 0 END) AS n_01,
             sum(CASE WHEN t = 1 AND p = 0 THEN n ELSE 0 END) AS n_10,
             sum(CASE WHEN t = 1 AND p = 1 THEN n ELSE 0 END) AS n_11,
             sum(CASE WHEN t = 0 AND p = 0 THEN sy ELSE 0 END) AS s_00,
             sum(CASE WHEN t = 0 AND p = 1 THEN sy ELSE 0 END) AS s_01,
             sum(CASE WHEN t = 1 AND p = 0 THEN sy ELSE 0 END) AS s_10,
             sum(CASE WHEN t = 1 AND p = 1 THEN sy ELSE 0 END) AS s_11
           FROM cells)
         SELECT n_00::BIGINT AS n_00, n_01::BIGINT AS n_01,
                n_10::BIGINT AS n_10, n_11::BIGINT AS n_11,
                round(s_00::DOUBLE / n_00::DOUBLE, 6) AS mean_00_6,
                round(s_01::DOUBLE / n_01::DOUBLE, 6) AS mean_01_6,
                round(s_10::DOUBLE / n_10::DOUBLE, 6) AS mean_10_6,
                round(s_11::DOUBLE / n_11::DOUBLE, 6) AS mean_11_6,
                round((s_11::DOUBLE / n_11::DOUBLE -
                       s_10::DOUBLE / n_10::DOUBLE) -
                      (s_01::DOUBLE / n_01::DOUBLE -
                       s_00::DOUBLE / n_00::DOUBLE), 6) AS did6
         FROM a""",

    // Per-segment DiD replay: the same conditional 2x2 folded per
    // market segment over the customer-dimension join
    "q_did_segments" ->
      """WITH j AS (
           SELECT c_mktsegment AS segment, o_custkey % 2 AS t,
                  CASE WHEN o_orderdate >= TIMESTAMP '1998-06-01'
                       THEN 1 ELSE 0 END AS p,
                  CAST(floor(o_totalprice) AS BIGINT) AS y
           FROM orders JOIN customer ON o_custkey = c_custkey),
         cells AS (SELECT segment, t, p, count(*) AS n, sum(y) AS sy
                   FROM j GROUP BY 1, 2, 3),
         a AS (
           SELECT segment,
             sum(CASE WHEN t = 0 AND p = 0 THEN n ELSE 0 END) AS n_00,
             sum(CASE WHEN t = 0 AND p = 1 THEN n ELSE 0 END) AS n_01,
             sum(CASE WHEN t = 1 AND p = 0 THEN n ELSE 0 END) AS n_10,
             sum(CASE WHEN t = 1 AND p = 1 THEN n ELSE 0 END) AS n_11,
             sum(CASE WHEN t = 0 AND p = 0 THEN sy ELSE 0 END) AS s_00,
             sum(CASE WHEN t = 0 AND p = 1 THEN sy ELSE 0 END) AS s_01,
             sum(CASE WHEN t = 1 AND p = 0 THEN sy ELSE 0 END) AS s_10,
             sum(CASE WHEN t = 1 AND p = 1 THEN sy ELSE 0 END) AS s_11
           FROM cells GROUP BY 1)
         SELECT segment, n_00::BIGINT AS n_00, n_01::BIGINT AS n_01,
                n_10::BIGINT AS n_10, n_11::BIGINT AS n_11,
                round(s_00::DOUBLE / n_00::DOUBLE, 6) AS mean_00_6,
                round(s_01::DOUBLE / n_01::DOUBLE, 6) AS mean_01_6,
                round(s_10::DOUBLE / n_10::DOUBLE, 6) AS mean_10_6,
                round(s_11::DOUBLE / n_11::DOUBLE, 6) AS mean_11_6,
                round((s_11::DOUBLE / n_11::DOUBLE -
                       s_10::DOUBLE / n_10::DOUBLE) -
                      (s_01::DOUBLE / n_01::DOUBLE -
                       s_00::DOUBLE / n_00::DOUBLE), 6) AS did6
         FROM a ORDER BY segment""",

    // Power replay: identical pooled-rate and MDE expressions — the
    // z-sum literal kept as the same explicit addition, sqrt is
    // IEEE-correctly-rounded in both engines, and the powered flag
    // compares the two ROUNDED readouts
    "q_ab_power" ->
      """WITH u AS (
           SELECT o_custkey,
                  max(CASE WHEN o_orderdate >= TIMESTAMP '1998-06-01'
                       THEN 1 ELSE 0 END) AS conv
           FROM orders GROUP BY 1),
         a AS (
           SELECT
             sum(CASE WHEN o_custkey % 2 = 0 THEN 1 ELSE 0 END) AS n0,
             sum(CASE WHEN o_custkey % 2 = 0 THEN conv ELSE 0 END)
               AS conv0,
             sum(CASE WHEN o_custkey % 2 = 0 THEN 0 ELSE 1 END) AS n1,
             sum(CASE WHEN o_custkey % 2 = 0 THEN 0 ELSE conv END)
               AS conv1
           FROM u),
         b AS (
           SELECT *,
             (conv0 + conv1)::DOUBLE / (n0 + n1)::DOUBLE AS pp,
             least(n0, n1)::DOUBLE AS nmin
           FROM a),
         r AS (
           SELECT *,
             round((1.959964 + 0.841621) *
                   sqrt(2.0 * pp * (1.0 - pp) / nmin), 6) AS mde_abs6,
             round(abs(conv1::DOUBLE / n1::DOUBLE -
                       conv0::DOUBLE / n0::DOUBLE), 6) AS obs_diff6
           FROM b)
         SELECT n0::BIGINT AS n0, conv0::BIGINT AS conv0,
                n1::BIGINT AS n1, conv1::BIGINT AS conv1,
                ((1000000 * (conv0 + conv1)) // (n0 + n1))::BIGINT
                  AS p_pooled_ppm,
                mde_abs6, obs_diff6,
                (CASE WHEN obs_diff6 > mde_abs6 THEN 1 ELSE 0
                 END)::BIGINT AS powered
         FROM r"""
  ).filter(_._2.nonEmpty)

  /** Shared oracle (q_ewma_anomaly + q_stream_ewma): daily counts,
    * W-day dyadic-weight window sum via a bounded day-range self-join
    * (the engine explodes forward — same calendar terms), constant
    * 2^14-1 denominator, identical 6/5 flag and top-burst pick. */
  private def ewmaAnomalySql: String =
    """WITH d AS (
           SELECT event_type AS g,
                  epoch_us(ts) // 1000000 // 86400 AS day,
                  count(*) AS n
           FROM events WHERE ts IS NOT NULL AND event_type IS NOT NULL
           GROUP BY 1, 2),
         f AS (SELECT g, min(day) AS d0 FROM d GROUP BY 1),
         ew AS (
           SELECT a.g, a.day, a.n,
                  COALESCE(sum(b.n * (CAST(1 AS BIGINT)
                                      << (14 - (a.day - b.day)))),
                           0)::BIGINT AS ew
           FROM d a LEFT JOIN d b
             ON b.g = a.g AND b.day >= a.day - 14 AND b.day < a.day
           GROUP BY 1, 2, 3),
         ev AS (
           SELECT ew.g, ew.day, ew.n, ew.ew,
                  (ew.n * 16383 * 5 > 6 * ew.ew) AS anom
           FROM ew JOIN f ON ew.g = f.g
           WHERE ew.day >= f.d0 + 14),
         top AS (
           SELECT g, day, n, ew,
                  row_number() OVER (PARTITION BY g
                                     ORDER BY n DESC, day) AS rn
           FROM ev WHERE anom)
         SELECT ev.g AS event_type,
                count(*)::BIGINT AS n_days_eval,
                sum(CASE WHEN anom THEN 1 ELSE 0 END)::BIGINT
                  AS n_anomalies,
                COALESCE(max(top.day), -1)::BIGINT AS top_day,
                COALESCE(max(top.n), -1)::BIGINT AS top_n,
                COALESCE(max(top.ew), -1)::BIGINT AS top_ewma_scaled
         FROM ev LEFT JOIN top
           ON ev.g = top.g AND ev.day = top.day AND top.rn = 1
         GROUP BY 1 ORDER BY 1"""

  /** Shared oracle CTE: portable hyperplane-LSH signature over the
    * embeddings table — integer Lehmer mix (quadratic then minstd 48271,
    * mod 2^31-1), identical bits to `LshSigExpr(portable = true)` with
    * nPlanes = 8. */
  /** Shared oracle (q_freshness + q_stream_freshness): per-(source,
    * epoch-day) cells, corpus maxima as windows over the bounded cell
    * table, integer lags, 6h stale flag. */
  private def freshnessSql: String =
    """WITH cells AS (
           SELECT event_type AS source,
                  epoch_us(ts) // 1000000 // 86400 AS day,
                  count(*) AS n,
                  max(epoch_us(ts) // 1000000) AS max_s
           FROM events WHERE ts IS NOT NULL GROUP BY 1, 2),
         g AS (SELECT *, max(max_s) OVER () AS cms,
                      max(day) OVER () AS cmd
               FROM cells)
         SELECT source, sum(n)::BIGINT AS n_events,
                max(max_s)::BIGINT AS last_epoch_s,
                (max(cms) - max(max_s))::BIGINT AS lag_s,
                sum(CASE WHEN day = cmd THEN n ELSE 0 END)::BIGINT
                  AS n_on_last_day,
                (CASE WHEN max(cms) - max(max_s) > 21600
                 THEN 1 ELSE 0 END)::BIGINT AS stale
         FROM g GROUP BY 1 ORDER BY 1"""

  private def seasonalAnomalySql: String =
    """WITH hourly AS (
           SELECT event_type, date_trunc('hour', ts) AS h,
                  count(*) AS n
           FROM events
           WHERE ts IS NOT NULL AND event_type IS NOT NULL
           GROUP BY 1, 2),
         st AS (
           SELECT event_type, hour(h) AS hod, n,
                  row_number() OVER (PARTITION BY event_type, hour(h)
                                     ORDER BY n) AS rn,
                  count(*) OVER (PARTITION BY event_type, hour(h))
                    AS cnt
           FROM hourly),
         m AS (
           SELECT event_type, hod,
                  sum(CASE WHEN rn = (cnt + 1) // 2 THEN n ELSE 0 END
                    + CASE WHEN rn = cnt // 2 + 1 THEN n ELSE 0 END)
                    AS median2
           FROM st GROUP BY 1, 2)
         SELECT hourly.event_type,
                epoch(hourly.h)::BIGINT AS hour_epoch,
                hourly.n::BIGINT AS n, m.median2::BIGINT AS median2
         FROM hourly JOIN m ON hourly.event_type = m.event_type
                           AND hour(hourly.h) = m.hod
         WHERE hourly.n * 2 >= 3 * m.median2
         ORDER BY 1, 2"""

  private def embedSigCte: String =
    """WITH sig AS (
         SELECT vec_id, embedding::DOUBLE[] AS emb,
                list_sum([CASE WHEN list_reduce(list_prepend(0.0::DOUBLE,
                    [ (embedding::DOUBLE[])[d] *
                      (((((((p*1315423911 + (d-1)*2654435761 + 97531)
                            % 2147483647)
                         * ((p*1315423911 + (d-1)*2654435761 + 97531)
                            % 2147483647))
                         % 2147483647) * 48271) % 2147483647)
                       * 2.0 / 2147483647.0 - 1.0)
                      FOR d IN range(1, 65)]), (a, b) -> a + b) >= 0
                  THEN (1::BIGINT << p) ELSE 0::BIGINT END
                  FOR p IN range(0, 8)]) AS sig
         FROM embeddings)"""

  private def ksGiniSql: String =
    """WITH b AS (
         SELECT CASE WHEN l_extendedprice < 25000 THEN 0
                     WHEN l_extendedprice < 50000 THEN 1
                     WHEN l_extendedprice < 75000 THEN 2
                     ELSE 3 END AS bin,
                CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS y
         FROM lineitem),
       agg AS (
         SELECT bin, sum(y)::DOUBLE ev, (count(*) - sum(y))::DOUBLE ne
         FROM b GROUP BY 1),
       tot AS (SELECT sum(ev) te, sum(ne) tne FROM agg),
       cums AS (
         SELECT bin,
                sum(ev) OVER (ORDER BY bin) / te AS ce,
                sum(ne) OVER (ORDER BY bin) / tne AS cn
         FROM agg, tot),
       ks AS (SELECT round(max(abs(ce - cn)), 6) AS ks FROM cums),
       srt AS (
         SELECT ev, ne, ne / (ev + ne) AS ner,
                sum(ne) OVER (ORDER BY ne / (ev + ne), ev
                              ROWS BETWEEN UNBOUNDED PRECEDING
                              AND 1 PRECEDING) AS cum_ne_prev
         FROM agg),
       gini AS (
         SELECT round(1.0 - sum(ev * (ne + 2 * coalesce(cum_ne_prev, 0)))
                      / (SELECT te * tne FROM tot), 6) AS gini
         FROM srt)
       SELECT ks.ks, gini.gini FROM ks, gini"""
}
