package graft.engine



import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.core.TokenRing
import graft.functions.{murmur3_token, ring_partition}


/** Parquet-backed topic log with the reference's externally observable
  * semantics (SURVEY.md §2.6):
  *
  *  1. per-key total order (same key -> same (token, range) partition;
  *     offsets assigned in timestamp order within the partition),
  *  2. monotonic contiguous offsets per (topic, token, range) — the
  *     coalescer's offset assignment (`internal/producing/coalescer.go:
  *     164-170`) re-expressed as base + row_number over one shuffle,
  *  3. at-least-once delivery against committed consumer offsets,
  *  4. deterministic disjoint consumer-group fan-out (R2 rebalance),
  *  5. startFromEarliest / startFromLatest policies (R7),
  *  6. topics auto-created on first write (`topics.go:34-36` — no DDL).
  *
  * Physical layout mirrors the reference's TopicDataId addressing
  * (`datalog/{topic}/{token}/{rangeIndex}` -> Hive dirs
  * `topic=X/token=N/range=R`), which buys Catalyst partition pruning on
  * every poll — the Spark analog of the reference's segment-name pruning.
  *
  * Storage is zstd parquet (chunk ≈ row-group, compress-once ≈ write-once);
  * durability/replication belong to the object store (W4/W6 are non-goals
  * per SURVEY §7.1). Offset metadata lives in small parquet tables under
  * `_meta/` — the SQLite `offsets` table analog (S11).
  */
class TopicStore(
    val spark: SparkSession,
    val root: String,
    val clusterSize: Int = 3,
    val rangesPerToken: Int = 4) {

  import spark.implicits._

  /** The partitioned log directory (public: the SQL `topic_records` TVF
    * and external readers address it).
    */
  val dataDir = s"$root/data"

  // every existence probe and listing goes through the Hadoop FS API so
  // the store works unchanged when `root` is an object-store/HDFS URI —
  // java.nio answers false for s3a:// paths, which would silently turn
  // polls empty and forget metadata on a real cluster
  private def hpath(p: String) = new org.apache.hadoop.fs.Path(p)
  private def hfs(p: String): org.apache.hadoop.fs.FileSystem =
    hpath(p).getFileSystem(spark.sparkContext.hadoopConfiguration)
  private def pathExists(p: String): Boolean = hfs(p).exists(hpath(p))

  // partitionBy escapes special characters (space, '%', ':', …) in
  // partition-value directory names; any code that addresses or parses a
  // `topic=` dir by hand must round-trip through the same Hive encoding
  private def escapeDir(v: String): String =
    org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils.escapePathName(v)
  private def unescapeDir(v: String): String =
    org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils.unescapePathName(v)

  // dataDir existence is sticky — once the first produce creates it, it
  // never disappears in normal operation. Cache the positive answer so
  // the hot poll path doesn't pay object-store HEAD/LIST round-trips on
  // every request.
  @volatile private var dataDirSeen = false
  private def dataDirExists: Boolean = {
    if (!dataDirSeen && pathExists(dataDir)) dataDirSeen = true
    dataDirSeen
  }

  /** Empty result with the record envelope schema — poll's early returns
    * must stay schema-stable so callers can reference columns.
    */
  private def emptyRecords: DataFrame =
    spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], recordSchema)
  private val producerMeta = s"$root/_meta/producer_offsets"
  private val groupMeta = s"$root/_meta/group_offsets"
  private val genMeta = s"$root/_meta/generations"
  private val registryMeta = s"$root/_meta/groups"
  private val streamMeta = s"$root/_meta/stream_batches"

  /** Idempotent micro-batch produce for streaming ingest: each
    * (streamId, topic) pair durably remembers the last completed batch id,
    * so a foreachBatch replay after a crash (Structured Streaming's
    * at-least-once redelivery) is SKIPPED instead of double-produced.
    * The marker is written after the durable produce; a crash in the
    * narrow window between the two replays exactly that one batch
    * (at-least-once — the engine's delivery contract), every other crash
    * point replays nothing. The ledger reuses the offsets-table swap, so
    * a torn marker write is impossible.
    */
  def produceOnce(topic: String, records: DataFrame, streamId: String, batchId: Long): Long = {
    ensurePlaneOwnedRoot() // the ledger swap is root-authority: fail BEFORE the data write
    val scope = s"${scopeDir(streamId)}/${scopeDir(topic)}"
    val done = readOffsets(streamMeta, scope).getOrElse(0, Long.MinValue)
    if (batchId <= done) return 0L
    val n = produce(topic, records)
    writeOffsets(streamMeta, scope, Map(0 -> batchId))
    n
  }

  // ---------------------------------------------------------- generations

  /** Current generation of a topic — the last entry of the LIVE
    * generation chain (see `generations`).
    */
  def generation(topic: String): Generation = generations(topic).last

  /** The topic's live generation chain, ascending by version — the
    * reference's genVersion dimension plus its `Parents` lineage
    * (`internal/types/models_generation.go:10-23`,
    * `internal/types/models.go:250-255`) collapsed to a LINEAR chain:
    * this engine's rescale reshapes the whole ring at once, so
    * generation v+1 has exactly generation v as parent. Every address is
    * (topic, token, rangeIndex, genVersion), the layout carries a
    * `version=` dir (`internal/conf/config.go:354-357`), offsets restart
    * at 0 when a rescale opens the next generation
    * (`internal/producing/coalescer.go:124-135`), and a generation pins
    * its own ring size. The chain holds every generation whose data is
    * still ADDRESSABLE: rescale appends an empty new generation (moving
    * no data — the reference's zero-copy split/join,
    * `ownership/process_local_split_range.go:12-132`), consumers drain
    * ancestors in chain order (`offset_state.go:260-302` earliest-
    * ancestor BFS), and `sweepStaleGenerations` removes fully-drained
    * ancestors. Durable in `_meta/generations`, one row per live
    * generation; pre-lineage stores wrote a single row, which reads back
    * as a chain of one — correct, because the old copying rescale
    * rewrote all ancestor data into the current generation. Cached
    * write-through.
    */
  private val generationSchema =
    org.apache.parquet.schema.MessageTypeParser.parseMessageType(
      "message generation { required int32 version; required int32 cluster_size; }")

  def generations(topic: String): Seq[Generation] = genRows(topic).filter(_.clusterSize > 0)

  /** Versions dropped from the chain as record-free-and-state-free
    * (rescale's chain hygiene, plus `sweepStaleGenerations` reclaiming a
    * generation whose watermarks say it never held a record) — durable
    * TOMBSTONES, stored as `cluster_size = 0` rows next to the live
    * chain. They exist for exactly one consumer: a stream checkpoint
    * positioned in such a generation can PROVE nothing was lost and
    * re-anchor forward; a swept generation that held records leaves no
    * tombstone, so the same checkpoint fails loudly instead of silently
    * skipping data. Capped to the most recent 64 (one tiny row each) so
    * a flapping topology feed cannot grow the file without bound — a
    * pruned tombstone errs LOUD (a parked checkpoint resuming past the
    * cap gets the swept-generation error), never lossy.
    */
  def droppedEmptyVersions(topic: String): Set[Int] =
    genRows(topic).filter(_.clusterSize == 0).map(_.version).toSet

  private def genRows(topic: String): Seq[Generation] = {
    val dirKey = scopeDir(topic)
    genCache.computeIfAbsent(genCacheKey(topic), _ => {
      val p = s"$genMeta/$dirKey"
      // driver-side group read (no Spark job on the serving path) with
      // the same transient-swap retry as readOffsets: setGenerations'
      // swap can yank a just-listed file from under a cross-instance
      // reader. Files written by the old Spark path (optional fields)
      // read identically.
      def readOnce(): Seq[Generation] =
        if (!pathExists(p)) Seq(Generation(1, clusterSize))
        else {
          val fs = hfs(p)
          val files = fs.listStatus(hpath(p)).toSeq.map(_.getPath)
            .filter(f => f.getName.endsWith(".parquet") && !f.getName.startsWith(".") && !f.getName.startsWith("_"))
          // two visible files = a rename-first swap in flight (or a crash
          // between its rename and delete): the lexically-newest name is
          // the current table (monotonic stamp in swapWriteGroups)
          files.sortBy(_.getName).lastOption.map { f =>
            val r = TopicStore.groupReader(f, spark.sparkContext.hadoopConfiguration).build()
            val out = Seq.newBuilder[Generation]
            try {
              var g = r.read()
              while (g != null) {
                out += Generation(g.getInteger("version", 0), g.getInteger("cluster_size", 0))
                g = r.read()
              }
            } finally r.close()
            val chain = out.result().sortBy(_.version)
            if (chain.isEmpty) Seq(Generation(1, clusterSize)) else chain
          }.getOrElse(Seq(Generation(1, clusterSize)))
        }
      var res: Either[Throwable, Seq[Generation]] =
        try Right(readOnce()) catch { case TopicStore.Vanished(e) => Left(e) }
      var i = 0
      while (res.isLeft && i < 5) {
        Thread.sleep(50)
        res = try Right(readOnce()) catch { case TopicStore.Vanished(e) => Left(e) }
        i += 1
      }
      res.fold(throw _, identity)
    })
  }

  /** Persist the full generation row set: the live chain plus any
    * dropped-empty tombstones (`cluster_size = 0`), ascending by
    * version; the LAST row must be live (it is the current generation).
    */
  private def setGenerations(topic: String, chain: Seq[Generation]): Unit = {
    import org.apache.parquet.example.data.simple.SimpleGroupFactory
    require(chain.nonEmpty && chain.map(_.version) == chain.map(_.version).sorted &&
        chain.map(_.version).distinct.size == chain.size && chain.last.clusterSize > 0,
      s"generation rows must be ascending, unique, live-tailed: $chain")
    val key = scopeDir(topic)
    val gf = new SimpleGroupFactory(generationSchema)
    swapWriteGroups(s"$genMeta/$key", generationSchema,
      chain.map(g =>
        gf.newGroup().append("version", g.version).append("cluster_size", g.clusterSize)))
    genCache.put(genCacheKey(topic), chain)
    ()
  }

  // The _meta caches (generation, producer/group offsets, reconcile
  // ledger) are JVM-GLOBAL keyed by normalized root, like the locks:
  // the DSv2 writer produces through its OWN TopicStore instance, and a
  // per-instance write-through cache made the serving store's watermark
  // stale the moment another instance advanced the disk state — the two
  // producers then assigned DUPLICATE (part, offset) pairs (caught by
  // ChaosSpec's DSv2-writer thread). Shared caches + the global
  // produceLock restore the single-writer view across instances.
  // (Instances over one root must agree on the ring-size default, i.e.
  // one deployment configuration per root — same assumption the on-disk
  // layout already makes.)
  private def genCache = TopicStore.globalGenCache
  private def genCacheKey(topic: String): String =
    lockRootKey + "|" + scopeDir(topic)
  private def metaCacheKey(path: String): String =
    lockRootKey + "|" + path.stripPrefix(root)

  private def partsOf(g: Generation): Int = g.clusterSize * rangesPerToken
  private def tokensOf(g: Generation): Seq[Long] =
    (0 until g.clusterSize).map(TokenRing.tokenAtIndex(g.clusterSize, _))

  /** Record envelope (SURVEY §1.2): key/value/timestamp in, plus
    * topic/token/range/offset assigned by produce.
    */
  def recordSchema: StructType = StructType(Seq(
    StructField("key", StringType),
    StructField("value", BinaryType),
    StructField("timestamp", TimestampType),
    StructField("part", IntegerType),
    StructField("offset", LongType),
    StructField("topic", StringType),
    StructField("token", LongType),
    StructField("range", IntegerType),
    StructField("version", IntegerType)))

  // ------------------------------------------------------------- produce

  // ONE produce at a time per ROOT: produce is a read-modify-write of the
  // per-topic watermark, and concurrent partitioned appends to the same
  // dataDir can also collide in the Hadoop committer's shared _temporary
  // staging. The REST/binary channels already serialize through one
  // coalescer; this lock extends the guarantee to ANY composition
  // (streaming ingest via foreachBatch concurrent with REST produce,
  // direct API callers) instead of relying on caller discipline. Like the
  // topic RW lock below, it is JVM-GLOBAL keyed by the normalized root —
  // the DSv2 writer builds its own TopicStore over the same root, and a
  // per-instance lock would let that produce interleave with the serving
  // store's rescale copy-then-flip (appending into the superseded
  // generation after the copy's listing resolved = silent loss of acked
  // records, the cross-instance twin of the intra-instance race the
  // pinned-generation produce already closes).
  private lazy val produceLock: Object = TopicStore.produceLockFor(lockRootKey)

  // The produce PLANE (horizontal ingest, the reference's N-broker produce
  // path `internal/discovery/discoverer_client_service.go:30-124`): every
  // operation that needs the old single-writer view — produce, rescale's
  // generation flip — holds the plane EXCLUSIVELY (write mode), while
  // `produceConcurrent` holds it SHARED (read mode) plus per-ring-partition
  // monitors for exactly the partitions its batch touches. Batches over
  // disjoint partition sets then run their Spark jobs concurrently — the
  // scale story of the reference's brokers, each of which owns disjoint
  // token ranges and assigns offsets for them without coordination.
  // JVM-global per root, like produceLock. Lock order (JVM-wide):
  // produceLock -> plane -> part monitors -> watermark-merge scope ->
  // topic RW lock.
  private lazy val producePlane = TopicStore.producePlaneFor(lockRootKey)

  private def exclusivePlane[T](body: => T): T = {
    val w = producePlane.writeLock(); w.lock()
    try body finally w.unlock()
  }

  // Cross-PROCESS write guard (the in-JVM locks above only serialize
  // threads of one process): every mutating path — produce, maintenance,
  // group commit — first asserts this JVM holds the root's plane lease
  // (graft.engine.PlaneLease: epoch-fenced lease files under
  // `_meta/_plane`). A second JVM opening the produce plane on a leased
  // root fails LOUDLY instead of racing the watermark/commit
  // read-modify-write. Hot-path cost once acquired: one map lookup.
  // TTL override: spark.graft.planeLeaseTtlMs (session conf).
  //
  // HORIZONTAL mode: `spark.graft.planeLeasePartitions = "0-5"` (dash
  // ranges / comma list of ring ordinals) claims only those partitions,
  // so N processes produce to DISJOINT partitions of one root
  // concurrently — the reference's broker-per-token-range write plane
  // (`internal/ownership/generator.go:134-144`). A partition-scoped
  // process is produce-only: its batches must hash entirely into its
  // claim (BrokerGroup's ShardRouter computes exactly this routing), its
  // watermarks land in a per-claim LANE table (writeProducerOffsets),
  // and every root-authority path — maintenance, rescale, registry,
  // group commits, the stream ledger, exclusive-plane produce — fails
  // loudly, staying with a root-lease owner.
  private lazy val planeLeaseTtlMs: Long =
    spark.conf.getOption("spark.graft.planeLeaseTtlMs").map(_.toLong)
      .getOrElse(PlaneLease.DefaultTtlMs)

  private lazy val planeLeasePartitions: Option[scala.collection.immutable.SortedSet[Int]] =
    spark.conf.getOption("spark.graft.planeLeasePartitions")
      .map(TopicStore.parsePartitionSpec)

  // `spark.graft.planeLeaseRole = consumer` claims the CONSUMER-PLANE
  // lease instead (registry + group-commit authority, no produce or
  // maintenance) — compatible with live partition-scoped producers, so a
  // horizontal deployment is N producer processes + 1 consumer-plane
  // process over one root. A consumer-plane store reads producer
  // watermarks as a pure OBSERVER: no reconcile heal (that is a
  // producer-authority write), and poll refreshes the watermark/
  // generation caches per call because other processes advance them.
  // `consumer` = the FULL consumer plane; `consumer:<spec>` (dash ranges /
  // comma list of ring ordinals) = a RANGE-SCOPED consumer member: it
  // registers its own consumers and serves polls/commits for exactly
  // those ring partitions, commits landing in a per-claim lane table —
  // N such members fan the consumer plane out across processes, the
  // reference's consumers-per-broker assignment
  // (`docs/developer/CONSUMER_ASSIGNMENT.md`)
  private lazy val (planeLeaseConsumer: Boolean,
      consumerClaim: Option[scala.collection.immutable.SortedSet[Int]]) =
    spark.conf.getOption("spark.graft.planeLeaseRole") match {
      case None => (false, None)
      case Some("consumer") => (true, None)
      case Some(s) if s.startsWith("consumer:") =>
        (true, Some(TopicStore.parsePartitionSpec(s.stripPrefix("consumer:"))))
      case Some(other) => throw new IllegalArgumentException(
        s"spark.graft.planeLeaseRole='$other' — the only role is 'consumer' " +
          "(optionally range-scoped: 'consumer:0-5'; partition-scoped " +
          "produce uses spark.graft.planeLeasePartitions)")
    }

  // one monitor around {acquire + cache clear} per root: without it a
  // concurrent thread could observe the fresh claim (acquired=false on
  // its ensure) and read the still-uncleared caches — producing into a
  // generation a drain-window rescale superseded
  private def ensurePlaneOwned(): Unit =
    TopicStore.scopedLockFor(s"$lockRootKey|planeacq").synchronized {
    require(!(planeLeaseConsumer && planeLeasePartitions.isDefined),
      "spark.graft.planeLeaseRole=consumer and spark.graft.planeLeasePartitions " +
        "are mutually exclusive — one claim shape per process per root")
    val acquired =
      if (planeLeaseConsumer) consumerClaim match {
        case Some(ps) => PlaneLease.ensureOwnedConsumerPartitions(lockRootKey, root,
          spark.sparkContext.hadoopConfiguration, ps, planeLeaseTtlMs)
        case None => PlaneLease.ensureOwnedConsumer(lockRootKey, root,
          spark.sparkContext.hadoopConfiguration, planeLeaseTtlMs)
      }
      else planeLeasePartitions match {
        case Some(ps) => PlaneLease.ensureOwnedPartitions(lockRootKey, root,
          spark.sparkContext.hadoopConfiguration, ps, planeLeaseTtlMs)
        case None => PlaneLease.ensureOwned(lockRootKey, root,
          spark.sparkContext.hadoopConfiguration, planeLeaseTtlMs)
      }
    if (acquired) {
      // EVERY fresh acquisition drops this root's shared caches: the
      // process may have been preceded by other writers whose state a
      // pre-acquisition READ already cached — a scoped claim may follow a
      // coordinated drain window in which the coordinator rescaled
      // (producing into the superseded generation would break per-key
      // order across the flip), and a ROOT claim may follow live
      // range-scoped members whose lane commits a stale cached merge
      // would erase at the first lane fold. First acquisitions on a
      // fresh root pay nothing — the caches are empty.
      val prefix = lockRootKey + "|"
      genCache.keySet.removeIf(_.startsWith(prefix))
      offsetCache.keySet.removeIf(_.startsWith(prefix))
      ()
    }
  }

  /** Root-authority acquisition: maintenance, rescale, the stream
    * ledger, exclusive-plane produce — loud from a partition-scoped or
    * consumer-plane process.
    */
  private def ensurePlaneOwnedRoot(): Unit = {
    ensurePlaneOwned()
    PlaneLease.assertAuthority(lockRootKey, PlaneLease.RootAuthority)
  }

  /** Consumer-plane acquisition: registry rows and group-offset commits —
    * satisfied by the consumer-plane OR root lease, loud from a
    * partition-scoped producer process.
    */
  private def ensureConsumerPlane(): Unit = {
    ensurePlaneOwned()
    PlaneLease.assertAuthority(lockRootKey, PlaneLease.ConsumerAuthority)
  }

  /** The plane-lease epoch this process holds for the root (None before
    * the first mutating operation) — exported as a `/metrics` gauge.
    */
  def planeLeaseEpoch: Option[Long] = PlaneLease.heldEpoch(lockRootKey)

  /** The ring-partition claim this process is CONFIGURED with (None =
    * root shape, owns every partition) — the serving layer's routing
    * input: a produce for a partition outside the claim is forwarded to
    * the owning member instead of failing at flush.
    */
  private[graft] def configuredPartitionClaim
      : Option[scala.collection.immutable.SortedSet[Int]] = planeLeasePartitions

  /** Whether this process is configured as a consumer-plane member (no
    * produce authority at all — the serving layer forwards every
    * produce).
    */
  private[graft] def isConsumerPlaneRole: Boolean = planeLeaseConsumer

  // normalized through the root's FileSystem so scheme-variant spellings
  // of one directory ("/x/y", "file:///x/y", trailing slash) share locks
  private lazy val lockRootKey: String =
    TopicStore.normalizeRoot(root, spark.sparkContext.hadoopConfiguration)

  /** Run `body` with this thread's Spark jobs scheduled in the dedicated
    * serving pool: under the session's FAIR root (Graft.configure), the
    * serving path gets a fair share of executor cores against concurrently
    * running analytics jobs instead of queueing behind them — FIFO
    * starvation turned produce acks and polls into timeouts under load.
    * The reference gets the same isolation from dedicated broker threads.
    */
  def inServingPool[T](body: => T): T = {
    val sc = spark.sparkContext
    val prev = sc.getLocalProperty("spark.scheduler.pool")
    sc.setLocalProperty("spark.scheduler.pool", "graft-serving")
    try body finally sc.setLocalProperty("spark.scheduler.pool", prev)
  }

  /** Append records (columns: key string, value binary, timestamp) to a
    * topic. One shuffle on the ring partition; offsets are contiguous per
    * partition continuing from the previous produce. Empty/null keys get
    * hash-spread over all partitions (the reference round-robins keyless
    * records — even spread, no order guarantee; we use a value hash, which
    * is deterministic and shuffle-free).
    */
  def produce(topic: String, records: DataFrame): Long =
    // the generation is read UNDER produceLock — the reference's
    // coalescer re-checks the generation inside its serialization point
    // (`coalescer.go:93-106`) for the same reason: a produce that
    // resolved the generation before a concurrent rescale flipped the
    // pointer would otherwise write into the superseded generation,
    // stranding its records the moment the flip lands (caught by
    // EngineSpec "produce racing a rescale"). produceLock is reentrant,
    // so produceInto's own acquisition nests freely.
    //
    // A PARTITION-scoped process routes through the staged concurrent
    // plane instead: produceInto's direct dynamic-partition append shares
    // the Hadoop committer's `_temporary` staging with any concurrent
    // process's append, so cross-process disjoint-partition writes must
    // take stageCommit's private staging (and the lane watermarks).
    if (planeLeasePartitions.isDefined) produceConcurrent(topic, records)
    else produceLock.synchronized { produceInto(topic, records, generation(topic)) }

  /** Produce into an EXPLICIT generation — `produce` pins the current one
    * under produceLock, so a produce racing a rescale lands wholly under
    * the generation it read (still live in the chain) or wholly under
    * the new one, never in between.
    */
  /** Ring assignment shared by both produce planes: __seq normalization,
    * token hash (murmur3 for keyed records, value xxhash64 spread for
    * keyless), ring partition ordinal, (token, range) addressing.
    */
  private def ringAssigned(records: DataFrame, g: Generation): DataFrame = {
    // optional __seq column: produce-order tiebreak within one request
    // (NDJSON line order, binary-producer stream order)
    val seqed =
      if (records.columns.contains("__seq")) records
      else records.withColumn("__seq", lit(0L))
    seqed
      .withColumn("__token_hash",
        when(col("key").isNotNull && col("key") =!= "", murmur3_token(col("key")))
          .otherwise(xxhash64(col("value"))))
      .withColumn("part", ring_partition(col("__token_hash"), g.clusterSize, rangesPerToken))
      .withColumn("token",
        element_at(typedlit(tokensOf(g)), (col("part") / rangesPerToken).cast("int") + 1))
      .withColumn("range", pmod(col("part"), lit(rangesPerToken)).cast("int"))
  }

  /** Contiguous offsets: base(part) + rank within this batch's partition.
    * The explicit repartition to partsOf(g) (one ring partition per task)
    * is the coalescer's per-range serialization point. The window
    * partitions/orders on (token, range) — the same grouping as `part`
    * (bijection) — so its SortExec leaves every task ordered by the
    * dynamic-partition write's required (token, range) prefix and the
    * writer's own sort is ELIDED: exactly ONE shuffle and ONE full-row
    * sort per produce (the second writer-side sort of the full 1 KiB
    * rows was ~1/3 of produce cost on a bandwidth-constrained host).
    */
  private def offsetsAssigned(
      keyed: DataFrame, topic: String, g: Generation, bases: Map[Int, Long]): DataFrame = {
    val w = Window.partitionBy(col("token"), col("range"))
      .orderBy(col("timestamp"), col("key"), col("__seq"), xxhash64(col("value")))
    keyed
      .repartition(partsOf(g), col("token"), col("range"))
      .withColumn("__rank", row_number().over(w).cast("long"))
      .withColumn("offset",
        coalesce(element_at(typedlit(bases), col("part")), lit(0L)) + col("__rank") - 1L)
      .withColumn("topic", lit(topic))
      .withColumn("version", lit(g.version))
      .select("key", "value", "timestamp", "part", "offset", "topic", "token", "range", "version")
  }

  /** True when the plan can be counted and then re-executed for the write
    * with identical rows — see the counting discussion in `produceInto`.
    * Nondeterminism hides in OPERATORS as well as expressions: Sample /
    * Limit / Deduplicate pick a subset that depends on execution order
    * (shuffle fetch order varies between jobs), with no nondeterministic
    * expression in sight.
    */
  private def deterministicPlan(df: DataFrame): Boolean =
    df.queryExecution.analyzed.find { p =>
      import org.apache.spark.sql.catalyst.plans.logical.{Deduplicate, GlobalLimit, LocalLimit, Sample}
      p.isInstanceOf[Sample] || p.isInstanceOf[GlobalLimit] ||
        p.isInstanceOf[LocalLimit] || p.isInstanceOf[Deduplicate] ||
        p.expressions.exists(e => !e.deterministic)
    }.isEmpty

  private def produceInto(topic: String, records: DataFrame, g: Generation): Long = {
    ensurePlaneOwned()
    // the exclusive plane's direct append + whole-table watermark swap
    // are root-authority: a partition-scoped or consumer-plane process
    // never takes them
    PlaneLease.assertAuthority(lockRootKey, PlaneLease.RootAuthority)
    inServingPool { produceLock.synchronized { exclusivePlane {
    val bases: Map[Int, Long] = producerOffsetsFor(topic, g)
    val keyed = ringAssigned(records, g)
    val withOffsets = offsetsAssigned(keyed, topic, g, bases)

    // New high watermarks must derive from the rows the write itself wrote
    // (max(offset)+1 == base + count per partition): a separate count job
    // would re-execute the input plan, and a nondeterministic input
    // (sample(), uuid(), a racy source) can count rows that differ from the
    // written rows — silently drifting the watermark and breaking offset
    // contiguity. Deriving from a post-write topic-dir listing is out too:
    // file listing is O(files in topic), the throughput ceiling at 100 TB
    // of small produce batches. So: materialize the batch once (the cache
    // sits AFTER the shuffle + offset window, so the count pins the rows
    // and the write replays cached blocks instead of re-running the
    // shuffle), count per partition off the cache, write from the cache.
    // (An observe()/CollectMetrics accumulator on the write was measured
    // ~2x slower end-to-end: one metric expression per ring partition
    // evaluates per-row and the CollectMetrics node splits the write's
    // whole-stage-codegen span.)
    def doWrite(df: DataFrame): Unit = df.write
      .mode(SaveMode.Append)
      .partitionBy("topic", "token", "range", "version")
      .parquet(dataDir)
    // A DETERMINISTIC plan (every produce source in the engine: staged
    // REST/binary batches, foreachBatch micro-batches, parquet scans —
    // file sources pin their file listing at read time) counts the same
    // rows the write writes, so the cheap path is a pre-window partial
    // aggregation (map-side combined, no window sort, tiny shuffle) plus
    // the direct write. A plan carrying nondeterministic expressions
    // (sample(), rand(), uuid()) could count rows that differ from the
    // written rows — those pay one materialization so count and write
    // read the same pinned blocks. (Rejected alternatives, measured on
    // the 2M-msg ingest bench: observe()/CollectMetrics per-ring-partition
    // metrics halve produce throughput — the metrics node splits the
    // write's codegen span; unconditional persist is worse still — the
    // columnar cache build costs more than the recompute it saves.)
    val deterministic = deterministicPlan(withOffsets)
    // count BEFORE write in both branches: an empty batch (streaming
    // recovery replay, fully-filtered source) then skips the shuffle +
    // dynamic-partition write job entirely — one cheap map-side-combined
    // count job is the whole cost of an empty produce
    val counts: Map[Int, Long] =
      if (deterministic) {
        val c = keyed.groupBy(col("part")).agg(count(lit(1)).as("n"))
          .as[(Int, Long)].collect().toMap
        if (c.nonEmpty) doWrite(withOffsets)
        c
      } else {
        withOffsets.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        try {
          val c = withOffsets.groupBy(col("part")).agg(count(lit(1)).as("n"))
            .as[(Int, Long)].collect().toMap
          if (c.nonEmpty) doWrite(withOffsets)
          c
        } finally { withOffsets.unpersist(); () }
      }

    val merged = bases ++ counts.map { case (p, n) => p -> (bases.getOrElse(p, 0L) + n) }
    // empty batch: nothing written, watermarks unchanged — skip the
    // offsets rewrite (streaming ingest may deliver empty micro-batches)
    if (counts.nonEmpty)
      writeProducerOffsets(producerScopeFor(topic, g), merged, counts.keySet)
    merged.values.sum
  } } } }

  /** Horizontal-plane produce: the same contract as [[produce]] (per-key
    * total order, contiguous per-partition offsets, durable before
    * return), but concurrent calls whose batches touch DISJOINT ring
    * partitions run their Spark jobs in parallel instead of serializing
    * on the root-wide produce lock. This is the ingest-scale analog of
    * the reference's N-broker produce plane: each broker owns disjoint
    * token ranges and assigns their offsets without coordination
    * (`internal/discovery/discoverer_client_service.go:30-124`, one
    * binary/HTTP server per broker), so produce throughput scales with
    * brokers. [[graft.serving.BrokerGroup]] is the serving front that
    * routes requests so concurrent flushes are partition-disjoint.
    *
    * Correctness never depends on the caller's routing: the lock set is
    * derived from the partitions the batch ACTUALLY hashes to (under the
    * plane's shared lock, so the generation cannot flip mid-produce), and
    * per-partition monitors are acquired in ascending order. A router
    * misprediction — e.g. racing a rescale — only widens the lock set and
    * costs concurrency, never duplicates an offset. Exclusive-plane
    * operations (plain [[produce]], the DSv2 writer, rescale's flip) are
    * fully excluded while any concurrent produce is in flight, and vice
    * versa.
    *
    * The data write lands in a private staging directory and is then
    * renamed file-by-file into the log — concurrent direct appends to one
    * directory would collide in the Hadoop committer's shared
    * `_temporary` staging (one job's cleanup deletes the other's task
    * files). Each produce writes at most ONE file per ring partition, so
    * per-partition visibility stays atomic, exactly like the direct
    * append. Watermarks merge per-partition under a scoped lock; the
    * crash window between data-in-place and watermark-advance is the same
    * at-least-once window the exclusive path documents (healed by the
    * reconcile scan on the next cold start).
    *
    * Plans that cannot be counted and re-executed identically
    * (nondeterministic sources — never the case for the serving
    * coalescers' driver-staged batches) fall back to the exclusive path.
    * Returns the number of records written by THIS batch.
    */
  def produceConcurrent(topic: String, records: DataFrame): Long = {
    if (!deterministicPlan(records)) {
      // the exclusive-path fallback re-executes the plan for count and
      // write; a partition-scoped process has no exclusive plane, so a
      // nondeterministic source is a contract violation there (loud)
      if (planeLeasePartitions.isDefined)
        throw new IllegalStateException(
          "partition-scoped produce requires a deterministic input plan " +
            "(sample()/rand()/limit-bearing sources cannot be counted and " +
            "re-executed identically); materialize the batch first")
      return produceLock.synchronized { produceInto(topic, records, generation(topic)) }
    }
    ensurePlaneOwned()
    val rl = producePlane.readLock()
    rl.lock()
    try inServingPool {
      // stable under the shared plane: the flip (rescale) needs the
      // exclusive plane, so every concurrent producer in flight sees one
      // consistent generation
      val g = generation(topic)
      val keyed = ringAssigned(records, g)
      val counts = keyed.groupBy(col("part")).agg(count(lit(1)).as("n"))
        .as[(Int, Long)].collect().toMap
      if (counts.isEmpty) 0L
      else {
        val monitors = counts.keys.toList.sorted.map(p =>
          TopicStore.scopedLockFor(s"$lockRootKey|ppart|${scopeDir(topic)}|v${g.version}|$p"))
        withMonitors(monitors) {
          // entry authority + pre-data fence: the batch must sit inside a
          // partition-scoped claim, and a superseded lease is caught
          // BEFORE the data files land, not only at the watermark swap
          PlaneLease.assertAuthority(lockRootKey,
            PlaneLease.ProduceAuthority(counts.keySet))
          PlaneLease.assertCurrentAtCommit(lockRootKey,
            PlaneLease.ProduceAuthority(counts.keySet))
          // bases for THIS batch's partitions are stable: only a holder
          // of these part monitors writes them, and exclusive-plane
          // writers are excluded by the shared plane lock
          val bases = producerBasesFor(topic, g)
          stageCommit(offsetsAssigned(keyed, topic, g, bases), counts.keySet)
          val scope = producerScopeFor(topic, g)
          val myNext = counts.map { case (p, n) => p -> (bases.getOrElse(p, 0L) + n) }
          // merge RMW on the shared watermark view: concurrent producers
          // of OTHER partitions interleave here, so re-read and overlay
          // only this batch's partitions under the scope's merge lock
          // (cross-process disjoint producers never meet: each writes its
          // own lane table — writeProducerOffsets)
          TopicStore.scopedLockFor(s"$lockRootKey|pwm|$scope").synchronized {
            writeProducerOffsets(scope,
              producerWatermarksForUpdate(scope) ++ myNext, myNext.keySet)
          }
          counts.values.sum
        }
      }
    } finally rl.unlock()
  }

  /** Hold a list of monitors (pre-sorted by the caller — ascending
    * acquisition order is the deadlock discipline) around `body`.
    */
  private def withMonitors[T](ms: List[Object])(body: => T): T = ms match {
    case Nil => body
    case h :: t => h.synchronized(withMonitors(t)(body))
  }

  /** Stage-then-rename commit for the concurrent plane: write the batch
    * to a private directory (its own Hadoop committer staging — no
    * `_temporary` collision between concurrent jobs), then rename each
    * data file into the partitioned log. File names carry the write
    * job's UUID, so renames never collide; per ring partition a produce
    * stages exactly one file, so partition visibility is atomic. A crash
    * mid-commit leaves unharvested stage files (invisible — swept by
    * [[sweepStages]]) or moved-but-unwatermarked files (the documented
    * at-least-once window, healed by the reconcile scan).
    */
  private def stageCommit(withOffsets: DataFrame, parts: Set[Int]): Unit = {
    val stage = s"$root/_stage/produce-${java.util.UUID.randomUUID()}"
    val fs = hfs(stage)
    try {
      withOffsets.write.mode(SaveMode.Overwrite)
        .partitionBy("topic", "token", "range", "version").parquet(stage)
      // re-fence AFTER the (possibly long) staged Spark write, right
      // before the renames make its files visible: a lease taken over
      // mid-write is caught here, so a paused producer cannot land data
      // files a successor's heal has already offset-advanced past. The
      // residual window is the rename loop itself — microseconds per
      // file, the same bounded TOCTOU the reference accepts between its
      // coalescer's generation re-check and its segment write
      // (`coalescer.go:93-135`); the watermark swap re-checks once more.
      PlaneLease.assertCurrentAtCommit(lockRootKey, PlaneLease.ProduceAuthority(parts))
      val stagePath = fs.makeQualified(hpath(stage))
      val it = fs.listFiles(stagePath, true)
      while (it.hasNext) {
        val f = it.next()
        val name = f.getPath.getName
        if (name.endsWith(".parquet") && !name.startsWith(".") && !name.startsWith("_")) {
          val rel = stagePath.toUri.relativize(f.getPath.toUri).getPath
          val target = hpath(s"$dataDir/$rel")
          fs.mkdirs(target.getParent)
          if (!fs.rename(f.getPath, target))
            throw new java.io.IOException(
              s"produce stage commit: rename ${f.getPath} -> $target failed")
        }
      }
    } finally { fs.delete(hpath(stage), true); () }
  }

  /** Broker-local produce for driver-resident batches — the hot ingest
    * path. The reference's coalescer writes segment files directly on
    * the broker (`internal/data/segment_writer.go:243-266` — no
    * distributed job between socket and fsync), and this is its Spark
    * twin: the serving coalescers already hold the rows on the driver,
    * so routing, ordering, offset assignment, and the one-zstd-parquet-
    * file-per-touched-partition write all happen driver-side under the
    * SAME shared-plane + per-partition-monitor locking as
    * [[produceConcurrent]]. No Spark job runs at all (measured: the job
    * machinery costs ~1 s per flush REGARDLESS of size — the entire
    * wire-path throughput ceiling), and a [[graft.serving.BrokerGroup]]'s
    * coalescers write concurrently over disjoint partitions, so ingest
    * scales with brokers exactly as the reference's does.
    *
    * Byte-equivalence with the Spark plan is the contract (proven by
    * LocalProduceSpec against [[produce]] on identical input):
    * murmur3/xxhash64 routing uses the same driver-side functions the
    * codegen'd expressions evaluate; in-batch order replicates the
    * offset window's (timestamp, key, __seq, xxhash64(value)) ascending
    * with nulls first and Spark's UTF8String semantics (unsigned UTF-8
    * byte comparison — NOT Java's UTF-16 order); the parquet schema
    * (zstd, int64-micros timestamps, row-group stats for the poll's
    * offset pruning) reads back through the same vectorized scan,
    * compaction, purge, and reconcile paths as Spark-written files.
    * Visibility is atomic per file (dot-prefixed write, then rename).
    * Returns the number of records written.
    *
    * Bulk produce (DataFrame sources: staged tables, streaming
    * micro-batches, the DSv2 writer) stays on the Spark planes — data
    * that is not in driver memory should never pass through it.
    */
  def produceLocal(topic: String, rows: Seq[TopicStore.LocalRecord]): Long = {
    if (rows.isEmpty) return 0L
    ensurePlaneOwned()
    val rl = producePlane.readLock()
    rl.lock()
    try inServingPool {
      val g = generation(topic) // stable: the flip needs the exclusive plane
      val toks = tokensOf(g)
      val byPart = rows.groupBy(r =>
        TokenRing.partitionOrdinal(localHash(r), g.clusterSize, rangesPerToken))
      val monitors = byPart.keys.toList.sorted.map(p =>
        TopicStore.scopedLockFor(s"$lockRootKey|ppart|${scopeDir(topic)}|v${g.version}|$p"))
      withMonitors(monitors) {
        // entry authority + pre-data fence (see produceConcurrent)
        PlaneLease.assertAuthority(lockRootKey,
          PlaneLease.ProduceAuthority(byPart.keySet))
        PlaneLease.assertCurrentAtCommit(lockRootKey,
          PlaneLease.ProduceAuthority(byPart.keySet))
        // may run the one-time reconcile heal (a Spark scan) on first
        // touch of this (topic, generation) — serialized by its own
        // scoped lock, like every other produce plane
        val bases = producerBasesFor(topic, g)
        // per-partition files are independent (disjoint dirs, disjoint
        // offset ranges) — write them in parallel on the shared local-
        // produce pool: a ring of 48 partitions otherwise pays 48
        // sequential parquet-writer inits per flush, the dominant fixed
        // cost of a small flush. Any failure fails the whole produce
        // (the ack fails, the client retries — the same at-least-once
        // window as a partial Spark write).
        val futs = byPart.toSeq.sortBy(_._1).map { case (p, rs) =>
          TopicStore.localWritePool.submit(new java.util.concurrent.Callable[Unit] {
            override def call(): Unit =
              writeLocalPartFile(topic, toks(p / rangesPerToken), p % rangesPerToken,
                g.version, p, bases.getOrElse(p, 0L), rs.sortWith(localLess).toIndexedSeq)
          })
        }
        futs.foreach(_.get())
        val scope = producerScopeFor(topic, g)
        val myNext = byPart.map { case (p, rs) => p -> (bases.getOrElse(p, 0L) + rs.size) }
        TopicStore.scopedLockFor(s"$lockRootKey|pwm|$scope").synchronized {
          writeProducerOffsets(scope,
            producerWatermarksForUpdate(scope) ++ myNext, myNext.keySet)
        }
        rows.size.toLong
      }
    } finally rl.unlock()
  }

  /** The produce plan's token hash, evaluated driver-side: murmur3 of
    * the key for keyed records; Spark's xxhash64 (seed 42) of the value
    * bytes for keyless — `XxHash64Function` IS the interpreter behind
    * the `xxhash64` expression, so the spread is bit-identical.
    */
  private def localHash(r: TopicStore.LocalRecord): Long =
    if (r.key != null && r.key.nonEmpty) graft.core.Murmur3x64.hashString(r.key)
    else org.apache.spark.sql.catalyst.expressions.XxHash64Function
      .hash(r.value, org.apache.spark.sql.types.BinaryType, 42L)

  /** The offset window's order, driver-side: (timestamp, key, __seq,
    * xxhash64(value)) ascending, nulls first. Key comparison is Spark's
    * UTF8String.compareTo — unsigned byte-wise over the UTF-8 encoding —
    * which DIVERGES from Java's UTF-16 String order beyond the BMP
    * (supplementary characters sort above U+E000..U+FFFF in UTF-8, below
    * in UTF-16), so the bytes are compared, never the Strings.
    */
  private def localLess(a: TopicStore.LocalRecord, b: TopicStore.LocalRecord): Boolean = {
    if (a.tsMicros != b.tsMicros) return a.tsMicros < b.tsMicros
    val kc =
      if (a.key == null && b.key == null) 0
      else if (a.key == null) -1
      else if (b.key == null) 1
      else java.util.Arrays.compareUnsigned(
        a.key.getBytes(java.nio.charset.StandardCharsets.UTF_8),
        b.key.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    if (kc != 0) return kc < 0
    if (a.seq != b.seq) return a.seq < b.seq
    org.apache.spark.sql.catalyst.expressions.XxHash64Function
      .hash(a.value, org.apache.spark.sql.types.BinaryType, 42L) <
      org.apache.spark.sql.catalyst.expressions.XxHash64Function
        .hash(b.value, org.apache.spark.sql.types.BinaryType, 42L)
  }

  // the data-file schema Spark's dynamic-partition write produces for the
  // record envelope minus the partition-dir columns: key/value/timestamp
  // payload plus (part, offset) — timestamps as int64 micros (UTC-
  // adjusted), the layout the session writes and the vectorized reader
  // scans
  private val localFileSchema: org.apache.parquet.schema.MessageType = {
    import org.apache.parquet.schema.{LogicalTypeAnnotation, Types}
    import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName._
    Types.buildMessage()
      .addField(Types.optional(BINARY)
        .as(LogicalTypeAnnotation.stringType()).named("key"))
      .addField(Types.optional(BINARY).named("value"))
      .addField(Types.optional(INT64)
        .as(LogicalTypeAnnotation.timestampType(true, LogicalTypeAnnotation.TimeUnit.MICROS))
        .named("timestamp"))
      .addField(Types.required(INT32).named("part"))
      .addField(Types.required(INT64).named("offset"))
      .named("record")
  }

  /** Write one partition's sorted slice of a local produce as a single
    * zstd parquet file in its leaf dir: offsets `base..base+n-1` in slice
    * order, dot-prefixed while being written, renamed into visibility
    * (readers skip hidden files, so partition visibility is atomic —
    * the same guarantee the Spark write's committer rename gives).
    */
  private def writeLocalPartFile(
      topic: String, token: Long, range: Int, version: Int, part: Int,
      base: Long, sorted: IndexedSeq[TopicStore.LocalRecord]): Unit = {
    import org.apache.parquet.example.data.simple.SimpleGroupFactory
    import org.apache.parquet.hadoop.example.ExampleParquetWriter
    import org.apache.parquet.hadoop.metadata.CompressionCodecName
    import org.apache.parquet.io.api.Binary
    val dir = s"$dataDir/topic=${escapeDir(topic)}/token=$token/range=$range/version=$version"
    val fs = hfs(dir)
    fs.mkdirs(hpath(dir))
    val fin = new org.apache.hadoop.fs.Path(
      hpath(dir), s"part-local-${java.util.UUID.randomUUID()}.zstd.parquet")
    val tmp = new org.apache.hadoop.fs.Path(hpath(dir), s".${fin.getName}.tmp")
    val conf = new org.apache.hadoop.conf.Configuration(spark.sparkContext.hadoopConfiguration)
    val gf = new SimpleGroupFactory(localFileSchema)
    // The next write-side layer, measured but not removed here: on a host
    // without libhadoop, RawLocalFileSystem sets each created file's
    // permission by running `chmod` in a child process — twice per
    // parquet file, counting the `.crc` sidecar. On a 4-core host that is
    // ~3 ms per `chmod`, 5.9 of 12.7 ms per 64-row file in an isolated
    // write micro-benchmark, and a 10 s ingest_wire run writes ~1,000
    // such files. A null-permission create still forks; avoiding it
    // needs a config knob or a second, file:-only write path.
    val w = ExampleParquetWriter.builder(tmp).withConf(conf)
      .withType(localFileSchema)
      .withCompressionCodec(CompressionCodecName.ZSTD)
      .build()
    try {
      var i = 0
      while (i < sorted.length) {
        val r = sorted(i)
        val grp = gf.newGroup()
        if (r.key != null) grp.append("key", r.key)
        grp.append("value", Binary.fromConstantByteArray(r.value))
          .append("timestamp", r.tsMicros)
          .append("part", part)
          .append("offset", base + i)
        w.write(grp)
        i += 1
      }
    } finally w.close()
    if (!fs.rename(tmp, fin))
      throw new java.io.IOException(s"produceLocal: rename $tmp -> $fin failed")
  }

  /** Reclaim orphaned produce staging directories (a concurrent produce
    * that crashed between its stage write and the rename-in). Age-gated
    * so an in-flight produce's live staging is never touched; the
    * retention sweeper calls this each tick. Returns directories removed.
    */
  def sweepStages(maxAgeMs: Long = 60L * 60 * 1000): Int = {
    ensurePlaneOwnedRoot() // stage deletes mutate the produce plane
    val stageRoot = s"$root/_stage"
    if (!pathExists(stageRoot)) return 0
    val fs = hfs(stageRoot)
    val cutoff = System.currentTimeMillis() - maxAgeMs
    // age = the NEWEST mtime anywhere under the stage dir, not the dir's
    // own: a still-running flush keeps writing task files under the
    // Spark job's _temporary subtree without touching the top-level
    // dir's mtime on most filesystems, so a dir-mtime gate would delete
    // a LIVE staging out from under a flush that merely runs longer
    // than maxAgeMs (half-renamed commit -> duplicate records on the
    // client's retry). Stage dirs are few and shallow; the walk is cheap.
    def newestMtime(p: org.apache.hadoop.fs.Path, own: Long): Long = {
      val children =
        try fs.listStatus(p)
        catch { case _: java.io.FileNotFoundException => return own } // raced its own commit
      children.foldLeft(own) { (mx, c) =>
        val m = math.max(mx, c.getModificationTime)
        if (c.isDirectory) math.max(m, newestMtime(c.getPath, m)) else m
      }
    }
    var n = 0
    fs.listStatus(hpath(stageRoot)).foreach { st =>
      if (st.getModificationTime < cutoff &&
          newestMtime(st.getPath, st.getModificationTime) < cutoff) {
        if (fs.delete(st.getPath, true)) n += 1
      }
    }
    n
  }

  /** Convenience: string-valued records. */
  def produceStrings(topic: String, rows: Seq[(String, String, java.sql.Timestamp)]): Long = {
    val df = rows.toDF("key", "svalue", "timestamp")
      .withColumn("value", encode(col("svalue"), "UTF-8"))
      .select("key", "value", "timestamp")
    produce(topic, df)
  }

  /** NDJSON produce (S2, `marshalRecordsByLine`): one request body becomes
    * N records, split on newlines; all lines share the request's key and
    * timestamp. Distributed split — no driver-side parsing.
    */
  def produceNdjson(topic: String, bodies: DataFrame): Long = {
    val exploded = bodies
      .select(
        col("key"), col("timestamp"),
        posexplode(split(decode(col("value"), "UTF-8"), "\n")).as(Seq("__seq", "__line")))
      .filter(length(trim(col("__line"))) > 0)
      .withColumn("value", encode(col("__line"), "UTF-8"))
      .select(col("key"), col("value"), col("timestamp"), col("__seq").cast("long"))
    produce(topic, exploded)
  }

  /** JSON delivery shape (S9, `consumerResponseItem.MarshalJson`): one
    * object per (topic, token, range) group with int64s as strings and the
    * decoded record bodies in produce order under `values`.
    */
  def pollJson(group: String, topic: String, consumerId: String): DataFrame = {
    val polled = poll(group, topic, consumerId)
    if (polled.isEmpty) return polled
    polled
      .withColumn("svalue", decode(col("value"), "UTF-8"))
      // no pre-sort: the groupBy exchange would discard it anyway, and
      // sort_array on the (offset, svalue) structs restores delivery
      // order inside each group — one shuffle instead of two
      .groupBy(col("topic"), col("token"), col("range"), col("version"))
      .agg(
        min(col("offset")).as("__start"),
        sort_array(collect_list(struct(col("offset"), col("svalue")))).as("__vals"))
      .select(to_json(struct(
        col("topic"),
        col("token").cast("string").as("token"),
        col("range").as("rangeIndex"),
        col("version"),
        col("__start").cast("string").as("startOffset"),
        expr("transform(__vals, x -> x.svalue)").as("values"))).as("json"))
  }

  // ---------------------------------------------------------------- poll

  /** One generation's serving state for a (group, consumer): the ring
    * assignment, the per-partition read positions (committed, else the
    * group's start policy) and the generation's high watermarks.
    * `groupLag` is the GROUP-WIDE lag set — every partition (assigned to
    * this consumer or not) whose committed-or-start position is below
    * the watermark — because the lineage gate is a group property: a
    * whole-ring rescale can move any key to any new partition, so
    * generation v+1 records must not reach ANY member while v records
    * are still undelivered to ANOTHER member.
    */
  private case class GenPage(
      g: Generation, assigned: Seq[Int], from: Map[Int, Long], high: Map[Int, Long],
      groupLag: Set[Int]) {
    def hasLag: Boolean = assigned.exists(p => from(p) < high.getOrElse(p, 0L))
    /** All of the generation's remaining group lag sits in THIS
      * consumer's assignment (so serving it later generations keeps
      * per-key order inside its own version-ordered result).
      */
    def lagIsOwn: Boolean = groupLag.subsetOf(assigned.toSet)
  }

  private def pageFor(
      group: String, topic: String, consumerId: String, g: Generation): GenPage = {
    val assigned = registry.assignmentFor(group, consumerId, g)
    val committed = readOffsets(groupMeta, s"${scopeDir(group)}/${scopeDir(topic)}/v${g.version}")
    val high = producerOffsetsFor(topic, g)
    val from = assigned
      .map(p => p -> committed.getOrElse(p, startingOffset(group, topic, p, g))).toMap
    val groupLag = (0 until partsOf(g)).filter { p =>
      committed.getOrElse(p, startingOffset(group, topic, p, g)) < high.getOrElse(p, 0L)
    }.toSet
    GenPage(g, assigned, from, high, groupLag)
  }

  /** Records for `consumerId` of `group` from its assigned partitions,
    * starting at the group's committed offsets, at most `maxRecords` AND
    * `maxBytes` of record bodies per partition, ordered by
    * (version, part, offset) — the delivery order guarantee. Partition
    * dirs outside the assignment are pruned at scan; the `maxRecords`
    * bound lands on the offset column so parquet row-group stats prune
    * the read, and the byte bound is a running-sum window that trims the
    * page after the bounded scan (the reference's `ConsumerReadThreshold`
    * rate control, `internal/conf/config.go:278-280`). A record that
    * straddles the byte boundary is still delivered, so a single
    * oversized record cannot stall the consumer.
    *
    * Lineage serving (the reference consumers' walk over `Parents`,
    * `internal/consuming/offset_state.go:260-302,492-611`): after a
    * metadata-only rescale the topic's history stays in ancestor
    * generations, and a group consumes them IN CHAIN ORDER before the
    * current generation's records. The gate is GROUP-WIDE (a whole-ring
    * rescale can move any key to any new partition): a BOUNDED poll
    * serves the earliest live generation where the GROUP still has lag —
    * a member whose own partitions there are drained gets an EMPTY page
    * (and re-polls; the reference's wait-for-sibling-`OffsetCompleted`,
    * `offset_state.go:690-714`) rather than generation v+1 records while
    * another member still holds undelivered v records. That carries
    * per-key total order (§2.6.1) across the ring change; a member that
    * stops polling without deregistering stalls the group's advance
    * until read-timeout eviction (R11) rebalances it away. An UNBOUNDED
    * poll (no maxRecords/maxBytes) returns, in one version-ordered
    * result, every generation through the first whose remaining group
    * lag includes ANOTHER member's partitions — generations whose lag
    * is entirely this member's own can't order-invert against anyone
    * else, so the walk continues past them (for a sole consumer that is
    * the whole chain at once, as before); consumers processing in
    * (version, part, offset) order preserve the same total order per
    * key. Each generation's positions commit under its own versioned
    * scope.
    */
  def poll(
      group: String,
      topic: String,
      consumerId: String,
      maxRecords: Long = Long.MaxValue,
      maxBytes: Long = Long.MaxValue,
      autoCommit: Boolean = true): DataFrame = {
    // a consumer-plane process's watermarks/generations advance in OTHER
    // processes (the partition-scoped producers): drop the JVM-global
    // write-through caches so every poll observes the producers' latest
    // persisted state — the same refresh the DSv2 observer does before
    // each latestOffset() (a root-lease store is the single writer and
    // keeps the memory-speed cache)
    if (planeLeaseConsumer) refreshOffsets(topic)
    // a RANGE-SCOPED member additionally refreshes the GROUP-offset view:
    // the other members' commits land in their own lanes, and the
    // group-wide lineage gate (groupLag) must see them move or it would
    // hold this member on a drained ancestor forever
    if (consumerClaim.isDefined) refreshGroupOffsets(group, topic)
    // ONE chain read pins generations, assignments, offsets scopes and
    // the scan filters for the whole poll (same discipline as commit):
    // assignment computed against a newer ring than the captured one
    // would index past its tokensOf. The registered-with-nothing-to-do
    // check spans the WHOLE chain, not just the current generation: a
    // down-rescale can leave a member with zero current-generation
    // partitions while it still OWNS lagging ancestor partitions — a
    // current-gen-only early return would lock it out of draining them,
    // and the group-wide gate would then stall the whole group forever
    // (the member keeps polling, so R11 eviction never rebalances it
    // away either)
    val chain = generations(topic)
    if (!dataDirExists ||
        chain.forall(g => registry.assignmentFor(group, consumerId, g).isEmpty))
      return emptyRecords

    val ancestors = chain.init.map(g => pageFor(group, topic, consumerId, g))
    val lagging = ancestors.filter(_.groupLag.nonEmpty)
    val unbounded = maxRecords == Long.MaxValue && maxBytes == Long.MaxValue
    val served: Seq[GenPage] =
      if (lagging.isEmpty) Seq(pageFor(group, topic, consumerId, chain.last))
      else if (!unbounded) Seq(lagging.head)
      else {
        // serve past a lagging ancestor only while its whole remaining
        // group lag is this consumer's own; the first FOREIGN-lag
        // generation is still served (it is the earliest remaining),
        // nothing after it
        val i = lagging.indexWhere(!_.lagIsOwn)
        if (i < 0) lagging :+ pageFor(group, topic, consumerId, chain.last)
        else lagging.take(i + 1)
      }

    served.foreach(pg => pg.assigned.foreach(p =>
      lastReaders.put((group, topic, pg.g.version, p), consumerId)))

    // BOUNDED pages are served DRIVER-SIDE (scanPageLocal): a 2 MiB page
    // should cost a few footer-pruned file reads, not a Spark job — the
    // reference serves poll pages straight from local segment files, and
    // the job-per-page shape was the serving-path latency floor. The
    // result is an eager LocalRelation (collect() runs no job), byte-
    // equivalent to the Spark scan by construction and by the paging
    // suites that drain bounded pages against unbounded reads. The gate
    // is maxRecords — it bounds the OFFSET WINDOW and with it the
    // driver-side read per partition; a byte-cap alone trims the output
    // but not the scan, so byte-only and unbounded polls stay on the
    // distributed scan — reading a topic's full backlog belongs on
    // executors.
    val bounded = maxRecords != Long.MaxValue
    if (bounded) {
      // the page is EAGER, so it can pin the topic's files ITSELF: the
      // read lock around list+read+commit means a bounded poll is safe
      // against concurrent compact/purge swaps for EVERY caller — the
      // lazy Spark page below cannot give that (its files resolve at the
      // caller's collect), which is why unbounded direct callers keep
      // the documented wrap-in-withTopicReads discipline. Without the
      // pin, a swap between the listing and the read turns into an
      // empty page whose gap skip would advance PAST records that still
      // exist in the swapped-in file.
      withTopicReads(topic) {
        val pages = served.map(pg => pg -> scanPageLocal(topic, pg, maxRecords, maxBytes))
        if (autoCommit) {
          val delivered: Map[Int, Map[Int, Long]] = pages
            .map { case (pg, rows) =>
              pg.g.version -> rows.groupBy(_.getAs[Int]("part")).view
                .mapValues(_.iterator.map(_.getAs[Long]("offset")).max + 1L).toMap
            }.toMap
          autoCommitPages(group, topic, consumerId, served, delivered, maxRecords)
        }
        import scala.jdk.CollectionConverters._
        return spark.createDataFrame(pages.flatMap(_._2).asJava, recordSchema)
      }
    }

    val out = served.map(pg => scanPage(topic, pg, maxRecords, maxBytes)).reduce(_.union(_))

    if (autoCommit) {
      // the delivered-offsets collect runs a Spark job over the lazy
      // scan, and its result DECIDES the commit (including the gap
      // skip's advance-past-empty-window). It must see one consistent
      // file set: without the read-lock pin, a concurrent compact/purge
      // swap between the scan's listing and this collect makes healthy
      // partitions "deliver nothing" (ignoreMissingFiles), and the gap
      // skip would commit them to the watermark — silently marking live
      // records consumed. The returned lazy frame stays the caller's
      // responsibility (documented wrap-in-withTopicReads discipline);
      // only the commit decision is pinned here.
      withTopicReads(topic) {
        val delivered: Map[Int, Map[Int, Long]] = out
          .groupBy(col("version"), col("part")).agg((max(col("offset")) + 1L).as("next"))
          .as[(Int, Int, Long)].collect()
          .groupBy(_._1).view.mapValues(_.map(t => t._2 -> t._3).toMap).toMap
        autoCommitPages(group, topic, consumerId, served, delivered, maxRecords)
      }
    }
    out
  }

  /** poll's auto-commit: advance each served generation to what it
    * delivered, with the purge GAP SKIP — an assigned partition with lag
    * that delivered NOTHING means the whole bounded window
    * [from, from+max) was erased by purgeKeys (the byte trim always
    * ships the first present record, so it cannot empty a non-empty
    * window). Advance past the window, or the consumer would re-poll
    * the same empty range forever — for an ancestor generation that
    * would also permanently block the group's advance to the next
    * generation.
    */
  private def autoCommitPages(
      group: String,
      topic: String,
      consumerId: String,
      served: Seq[GenPage],
      delivered: Map[Int, Map[Int, Long]],
      maxRecords: Long): Unit =
    served.foreach { pg =>
      val got = delivered.getOrElse(pg.g.version, Map.empty[Int, Long])
      val next = pg.assigned.flatMap { p =>
        got.get(p).map(p -> _).orElse {
          val from = pg.from(p)
          val hi = pg.high.getOrElse(p, 0L)
          val windowEnd =
            if (maxRecords > Long.MaxValue - from) hi
            else math.min(from + maxRecords, hi)
          if (from < hi) Some(p -> windowEnd) else None
        }
      }.toMap
      if (next.nonEmpty) {
        commit(group, topic, next, origin = consumerId, version = pg.g.version)
        ()
      }
    }

  /** Deferred-commit companion to poll's gap skip (the REST path): a
    * poll with `autoCommit = false` whose page came back EMPTY while the
    * group still has lag means the bounded window was erased by
    * purgeKeys — the deferred-commit stage is derived from delivered
    * rows, so it cannot advance over the gap, and the group would
    * re-poll the same empty range forever (for an ancestor generation,
    * also permanently blocking its advance to the next generation).
    * This re-derives the group's earliest-lag page, re-verifies with a
    * bounded count that the window holds NO records (offsets are never
    * reissued, so a verified-empty window below the captured watermark
    * stays empty), and commits the window ends for the record-free
    * partitions — nothing delivered-but-unacked is marked consumed,
    * because there is nothing in the window at all. Fast path is
    * metadata-only (no Spark job) when the group has no lag. Returns
    * the accepted advances.
    */
  def skipPurgedPage(
      group: String,
      topic: String,
      consumerId: String,
      maxRecords: Long = Long.MaxValue): Map[Int, Long] = {
    if (planeLeaseConsumer) refreshOffsets(topic)
    if (consumerClaim.isDefined) refreshGroupOffsets(group, topic)
    val chain = generations(topic)
    // whole-chain membership check, like poll's: a member with zero
    // current-generation partitions may still own lagging ancestors
    if (!dataDirExists ||
        chain.forall(g => registry.assignmentFor(group, consumerId, g).isEmpty))
      return Map.empty
    chain.map(g => pageFor(group, topic, consumerId, g)).find(_.hasLag) match {
      case None => Map.empty
      case Some(pg) =>
        // same self-pinning as the bounded poll: the re-verify count and
        // its commit must see one consistent file set (reentrant under
        // the REST path's own read lock)
        val present: Map[Int, Long] =
          if (maxRecords != Long.MaxValue) withTopicReads(topic) {
            scanPageLocal(topic, pg, maxRecords, Long.MaxValue)
              .groupBy(_.getAs[Int]("part")).view.mapValues(_.size.toLong).toMap
          }
          // the unbounded branch needs the same pin: its count COLLECTS
          // here (not at a caller), and a concurrent compact/purge swap
          // would read as a false-zero (ignoreMissingFiles) — committing
          // the window end for partitions that still hold records
          else withTopicReads(topic) {
            scanPage(topic, pg, maxRecords, Long.MaxValue)
              .groupBy(col("part")).agg(count(lit(1)).as("n"))
              .as[(Int, Long)].collect().toMap
          }
        val next = pg.assigned.flatMap { p =>
          val from = pg.from(p)
          val hi = pg.high.getOrElse(p, 0L)
          val windowEnd =
            if (maxRecords > Long.MaxValue - from) hi
            else math.min(from + maxRecords, hi)
          if (from < hi && present.getOrElse(p, 0L) == 0L) Some(p -> windowEnd) else None
        }.toMap
        if (next.isEmpty) Map.empty
        else commit(group, topic, next, origin = consumerId, version = pg.g.version)
    }
  }

  /** One generation's bounded scan: partition-dir pruning on
    * (token, range, version), the offset-window predicate on row-group
    * stats, the byte-budget trim, in-partition (part, offset) order.
    */
  private def scanPage(
      topic: String, pg: GenPage, maxRecords: Long, maxBytes: Long): DataFrame = {
    if (pg.assigned.isEmpty) return emptyRecords
    val tokens = tokensOf(pg.g)
    val partFilter = pg.assigned.map { p =>
      val from = pg.from(p)
      val upper = // saturating bound: from + maxRecords may exceed Long range
        if (maxRecords > Long.MaxValue - from) lit(true)
        else col("offset") < from + maxRecords
      col("part") === p && col("offset") >= from && upper
    }.reduce(_ || _)
    val dirFilter = pg.assigned.map { p =>
      col("token") === tokens(p / rangesPerToken) && col("range") === p % rangesPerToken
    }.reduce(_ || _)

    // per-partition order is the delivery guarantee (§2.6.1 — the
    // reference serves per-range chunks; there is no cross-range order),
    // so cluster-by-part + in-partition sort, NOT a global orderBy: a
    // global sort range-partitions with a sampling pass over the data,
    // which at 100 TB doubles the read for an ordering nobody gets.
    // ignoreMissingFiles: a direct API caller materializes the returned
    // frame OUTSIDE withTopicReads, so a retention sweep may delete a
    // planned file before the action runs — skip it (those records were
    // expiring) instead of failing the poll. REST polls additionally hold
    // the topic read lock, which also rules out the purge/compact
    // double-delivery window.
    val scanned = spark.read.schema(recordSchema)
      .option("ignoreMissingFiles", "true").parquet(dataDir)
      .where(col("topic") === topic && col("version") === pg.g.version &&
        dirFilter && partFilter)
      .repartition(math.max(pg.assigned.size, 1), col("part"))

    val paged =
      if (maxBytes == Long.MaxValue) scanned
      else {
        // bytes BEFORE this record per partition < maxBytes -> the first
        // record always ships; the boundary record ships once. Null
        // bodies count as 0 bytes (a null-valued record must still ship,
        // or the committed position would skip it forever).
        val len = coalesce(length(col("value")).cast("long"), lit(0L))
        val wb = Window.partitionBy(col("part")).orderBy(col("offset"))
        scanned
          .withColumn("__before", sum(len).over(wb) - len)
          .filter(col("__before") < maxBytes)
          .drop("__before")
      }
    paged.sortWithinPartitions(col("part"), col("offset"))
  }

  /** Driver-side twin of [[scanPage]] for BOUNDED pages — the reference
    * broker's consumer read path (chunks served from local segment
    * files, `internal/data/segment_reader.go`): per assigned partition,
    * list ONE leaf dir, skip files whose cached footer offset-stats miss
    * the [from, from+maxRecords) window, read the survivors with a
    * parquet offset filter (row-group + record level — the same pruning
    * the distributed scan gets from row-group stats), merge-sort by
    * offset, apply the byte trim. Identical filter semantics to
    * scanPage: the offset window (never the watermark) bounds the read,
    * rows whose `part` column disagrees with the dir are dropped, a
    * file deleted between list and read is skipped
    * (ignoreMissingFiles), and the byte trim ships the record that
    * straddles the boundary. Footer stats are cached per immutable file
    * (maintenance never rewrites in place — replacements get new
    * names), so a hot poll loop reads only data pages that overlap its
    * window.
    */
  private def scanPageLocal(
      topic: String, pg: GenPage, maxRecords: Long, maxBytes: Long)
      : IndexedSeq[org.apache.spark.sql.Row] = {
    import org.apache.spark.sql.Row
    if (pg.assigned.isEmpty || !dataDirExists) return IndexedSeq.empty
    val tokens = tokensOf(pg.g)
    val conf = spark.sparkContext.hadoopConfiguration
    // per-partition reads are independent (disjoint dirs) — fan them out
    // over the shared local-IO pool: each file's open (stat, footer read,
    // decompressor set-up; ~0.5 ms with a 64-row read on a 4-core host)
    // otherwise serializes across every (partition × file) of the page
    val perPart: Seq[(Int, IndexedSeq[Row])] =
      pg.assigned.sorted.map { p =>
        p -> TopicStore.localWritePool.submit(
          new java.util.concurrent.Callable[IndexedSeq[Row]] {
            override def call(): IndexedSeq[Row] =
              scanPartLocal(topic, pg, p, tokens, conf, maxRecords, maxBytes)
          })
      }.map { case (p, f) => p -> f.get() }
    perPart.iterator.flatMap(_._2).toIndexedSeq
  }

  /** One partition's slice of a driver-side bounded page. */
  private def scanPartLocal(
      topic: String, pg: GenPage, p: Int, tokens: Seq[Long],
      conf: org.apache.hadoop.conf.Configuration,
      maxRecords: Long, maxBytes: Long): IndexedSeq[org.apache.spark.sql.Row] = {
    import org.apache.parquet.filter2.compat.FilterCompat
    import org.apache.parquet.filter2.predicate.FilterApi
    import org.apache.spark.sql.Row
    val out = IndexedSeq.newBuilder[Row]
    locally {
      val from = pg.from(p)
      val hasUpper = maxRecords <= Long.MaxValue - from
      val upper = if (hasUpper) from + maxRecords else Long.MaxValue
      val token = tokens(p / rangesPerToken)
      val range = p % rangesPerToken
      val dir = s"$dataDir/topic=${escapeDir(topic)}/token=$token/range=$range" +
        s"/version=${pg.g.version}"
      if (pathExists(dir)) {
        val fs = hfs(dir)
        val files = fs.listStatus(hpath(dir)).filter { st =>
          val n = st.getPath.getName
          st.isFile && !n.startsWith(".") && !n.startsWith("_")
        }
        val recs = scala.collection.mutable.ArrayBuffer
          .empty[(Long, String, Array[Byte], java.sql.Timestamp)]
        files.foreach { st =>
          val overlaps = TopicStore.int64StatsOf(st, conf, "offset")
            .forall { case (mn, mx) => mx >= from && (!hasUpper || mn < upper) }
          if (overlaps) try {
            val offCol = FilterApi.longColumn("offset")
            val pred =
              if (hasUpper) FilterApi.and(FilterApi.gtEq(offCol, Long.box(from)),
                FilterApi.lt(offCol, Long.box(upper)))
              else FilterApi.gtEq(offCol, Long.box(from))
            val r = TopicStore.groupReader(st.getPath, conf)
              .withFilter(FilterCompat.get(pred)).build()
            try {
              var g = r.read()
              while (g != null) {
                // the record filter already enforced the offset window;
                // re-check offset AND part here so semantics cannot
                // drift from scanPage's predicate
                val off = g.getLong("offset", 0)
                val filePart =
                  if (g.getFieldRepetitionCount("part") == 0) p
                  else g.getInteger("part", 0)
                if (off >= from && off < upper && filePart == p) {
                  val key =
                    if (g.getFieldRepetitionCount("key") == 0) null
                    else g.getString("key", 0)
                  val value =
                    if (g.getFieldRepetitionCount("value") == 0) null
                    else g.getBinary("value", 0).getBytes
                  val ts =
                    if (g.getFieldRepetitionCount("timestamp") == 0) null
                    else {
                      val us = g.getLong("timestamp", 0)
                      val t = new java.sql.Timestamp(math.floorDiv(us, 1000000L) * 1000L)
                      t.setNanos((math.floorMod(us, 1000000L) * 1000L).toInt)
                      t
                    }
                  recs += ((off, key, value, ts))
                }
                g = r.read()
              }
            } finally r.close()
          } catch { case _: java.io.FileNotFoundException => () }
        }
        // (offset, ...) merge across files + the byte trim: bytes BEFORE
        // this record < maxBytes -> the first record always ships, the
        // boundary record ships once; null bodies count 0
        val sorted = recs.sortBy(_._1)
        var before = 0L
        sorted.foreach { case (off, key, value, ts) =>
          val len = if (value == null) 0L else value.length.toLong
          if (before < maxBytes) {
            // schema-carrying rows: poll's commit math and every caller
            // address columns by name, exactly as on collected scan rows
            out += new org.apache.spark.sql.catalyst.expressions.GenericRowWithSchema(
              Array[Any](key, value, ts, p, off, topic, token, range, pg.g.version),
              recordSchema)
          }
          before += len
        }
      }
    }
    out.result()
  }

  // last registered reader per (group, topic, generation version, part) —
  // the commit "origin" (reference `internal/data/segment_reader.go:
  // 115-135`); versioned because the same partition ordinal addresses
  // DIFFERENT partitions across generations
  private val lastReaders =
    new java.util.concurrent.ConcurrentHashMap[(String, String, Int, Int), String]()

  /** Manual offset commit (R4): set next-read positions for the group.
    *
    * Conflict resolution mirrors the reference's origin check + stale-value
    * rule (`internal/data/segment_reader.go:115-135`,
    * `internal/consuming/offset_state.go:785-808` `isOldValue`): a commit
    * carrying an `origin` consumer is rejected per-partition when another
    * consumer has read that partition since (the reassigned reader owns the
    * offset now), and committed offsets never move backwards. An empty
    * origin is the trusted admin path (no ownership check; monotonicity
    * still holds). Returns the accepted subset.
    *
    * A commit may carry the generation `version` its offsets were read
    * under (polls and the REST deferred-commit staging do); the commit
    * then applies to THAT generation's scope, and is rejected when the
    * generation is no longer live (swept) — offsets staged against
    * generation v are positions in v's numbering and would silently skip
    * unread records if applied to another generation's scope.
    * `version = -1` targets the current generation without the liveness
    * check (admin path).
    */
  // serializes the commit read-modify-write: REST pool threads commit
  // concurrently, and an unsynchronized interleaving could publish a
  // stale map that silently rewinds another consumer's partitions. The
  // lock is JVM-global per (root, group, topic) — group-offset state
  // (globalOffsetCache, the parquet swap-writes) is shared across all
  // instances over one root, so a per-instance lock would let two stores
  // interleave the RMW and lose one commit's partitions.
  def commit(
      group: String,
      topic: String,
      next: Map[Int, Long],
      origin: String = "",
      version: Int = -1): Map[Int, Long] = {
    ensureConsumerPlane()
    TopicStore.scopedLockFor(s"$lockRootKey|commit|$group/$topic").synchronized {
    // ONE chain read pins both the liveness check and the offsets scope:
    // with separate reads, a sweep removing the generation between them
    // could apply positions to a scope that no longer backs any data.
    // A commit racing a rescale is unaffected: rescale only APPENDS a
    // generation, so the staged version stays live and its scope stays
    // meaningful (ancestor positions keep advancing the drain).
    val chain = generations(topic)
    val targetVersion = if (version >= 0) version else chain.last.version
    if (version >= 0 && !chain.exists(_.version == version)) return Map.empty
    val scope = s"${scopeDir(group)}/${scopeDir(topic)}/v$targetVersion"
    val cur = readOffsets(groupMeta, scope)
    // a RANGE-SCOPED consumer member applies only its claim's partitions
    // (commit's contract is "returns the accepted subset"): a seek or a
    // hand-built commit spanning the ring applies per member, each
    // trimming to its ranges
    val inClaim = consumerClaim.fold(next)(owned =>
      next.filter(kv => owned.contains(kv._1)))
    val accepted = inClaim.filter { case (p, off) =>
      val reader = lastReaders.get((group, topic, targetVersion, p))
      val owns = origin.isEmpty || reader == null || reader == origin
      owns && off >= cur.getOrElse(p, 0L)
    }
    if (accepted.nonEmpty)
      writeGroupOffsets(scope, cur ++ accepted, accepted.keySet)
    accepted
  } }

  // group-offset scopes known lane-free by this full-plane holder — the
  // same once-per-scope fold discipline as the producer watermark lanes:
  // range-scoped consumer claimants abort on a live full-consumer/root
  // lease, so no lane can appear while we hold it
  private val groupLaneFreeScopes =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  /** Route a group-offset write by consumer-lease mode. A full-plane
    * holder (root or full consumer) swaps the scope's single table and
    * folds leftover lanes from a previous range-scoped deployment (their
    * values are contained in the merged `full` being written). A
    * RANGE-SCOPED consumer member swaps only its claim's LANE sub-table
    * (`<scope>/lane-<spec>`), so disjoint members never read-modify-write
    * one shared file; readers merge base + lanes per-partition max
    * (readOffsets) — group commits are monotonic per partition, so the
    * max IS the latest commit.
    */
  private def writeGroupOffsets(
      scope: String, full: Map[Int, Long], touched: Set[Int]): Unit =
    consumerClaim match {
      case Some(owned) =>
        val stray = touched.filterNot(owned.contains)
        require(stray.isEmpty,
          s"range-scoped group-offset write touches unowned partitions $stray")
        import org.apache.parquet.example.data.simple.SimpleGroupFactory
        val lane = s"$groupMeta/$scope/lane-${PlaneLease.specOf(owned)}"
        val gf = new SimpleGroupFactory(offsetsSchema)
        swapWriteGroups(lane, offsetsSchema,
          full.filter(kv => owned.contains(kv._1)).toSeq.sortBy(_._1).map {
            case (part, next) =>
              gf.newGroup().append("part", part).append("next", next)
          }, PlaneLease.ConsumerCommitAuthority(touched))
        // other members' lanes advance in other processes: invalidate the
        // merged view so the next read re-merges (commits are low-rate —
        // no owned-slice cache needed, unlike the producer hot path)
        offsetCache.remove(metaCacheKey(s"$groupMeta/$scope"))
        ()
      case None =>
        writeOffsets(groupMeta, scope, full,
          PlaneLease.ConsumerCommitAuthority(touched))
        if (!groupLaneFreeScopes.contains(scope)) {
          val fs = hfs(s"$groupMeta/$scope")
          val dirPath = hpath(s"$groupMeta/$scope")
          fs.listStatus(dirPath)
            .filter(st => st.isDirectory && st.getPath.getName.startsWith("lane-"))
            .foreach { st =>
              if (!fs.delete(st.getPath, true))
                throw new java.io.IOException(
                  s"group-offset lane fold: could not delete ${st.getPath}")
            }
          groupLaneFreeScopes.add(scope)
          ()
        }
    }

  private def producerScope(topic: String): String =
    producerScopeFor(topic, generation(topic))

  private def producerScopeFor(topic: String, g: Generation): String =
    s"${scopeDir(topic)}/v${g.version}"

  private def groupScope(group: String, topic: String): String =
    s"${scopeDir(group)}/${scopeDir(topic)}/v${generation(topic).version}"

  /** High watermark per partition (R8 max-produced-offset), current
    * generation: offsets restart per genVersion (`coalescer.go:124-135`).
    *
    * First access per (topic, generation) reconciles the persisted
    * watermark against the files actually on disk: a produce that
    * appended data but crashed before advancing the watermark would
    * otherwise reissue the same offsets on restart, breaking per-partition
    * contiguity. The reconcile scan's offset predicate sits on parquet
    * row-group stats, so for a healthy store it reads footers only; it
    * runs once per store lifetime, not per produce.
    */
  def producerOffsets(topic: String): Map[Int, Long] =
    producerOffsetsFor(topic, generation(topic))

  private def producerOffsetsFor(topic: String, g: Generation): Map[Int, Long] = {
    val scope = producerScopeFor(topic, g)
    // double-checked under a lock: concurrent first accessors must WAIT
    // for the heal (or they would read a stale watermark and reissue the
    // orphaned offsets), and a thrown scan must NOT mark the scope done
    // the lock is JVM-global per (root, scope) like the ledger itself:
    // with a per-instance lock, two stores first-touching one scope both
    // pass the contains check and race the heal's delete-then-rename swap
    val rscope = lockRootKey + "|" + scope
    // a CONSUMER-PLANE process is a watermark OBSERVER: the reconcile
    // heal is a producer-authority write (it advances the persisted
    // watermark over crash orphans), owned by the root/partition
    // producer that first touches the scope — skipping it here means a
    // consumer-plane poll simply does not surface orphaned records until
    // their producer heals them (the same observer semantics as
    // persistedProducerOffsets, which the DSv2 source already uses)
    if (planeLeaseConsumer) return readOffsets(producerMeta, scope)
    // the heal SCAN reads topic data files and collects eagerly, so the
    // topic read lock pins its listing against a concurrent maintenance
    // swap (a compact deleting merged-away files failed the scan; found
    // by ChaosSpec's DSv2-writer thread, whose fresh store instance
    // reconciles on first produce). The read lock is taken OUTSIDE the
    // reconcile monitor: maintenance ops (rescale, sweepStaleGenerations)
    // call this while HOLDING the topic write lock, so a monitor-then-
    // read-lock order here would be an ABBA cycle against their
    // write-lock-then-monitor order — a poll first-touching the scope
    // would hold the monitor waiting for the read lock while the
    // maintenance thread holds the write lock waiting for the monitor.
    // With the read lock first, the JVM-wide order is
    // produceLock -> topic RW -> scoped monitor everywhere (a write-lock
    // holder re-entering the read lock is legal on ReentrantReadWriteLock).
    if (!reconciled.contains(rscope)) withTopicReads(topic) {
      TopicStore.scopedLockFor(s"reconcile|$rscope").synchronized {
      if (!reconciled.contains(rscope)) {
        if (pathExists(dataDir)) {
          val persisted = readOffsets(producerMeta, scope)
          // footer-stats walk of THIS generation's leaf dirs (one dir =
          // one ring partition): max file offset per partition from the
          // cached stats, a driver-side projection read only for a file
          // without stats. The old Spark scan's offset predicate sat on
          // the same row-group stats but still paid a full dataDir
          // listing + one job per first touch.
          val topicPath = hpath(s"$dataDir/topic=${escapeDir(topic)}")
          val fs = hfs(topicPath.toString)
          val healed: Map[Int, Long] =
            if (!fs.exists(topicPath)) persisted
            else {
              val conf = spark.sparkContext.hadoopConfiguration
              val toks = tokensOf(g)
              val updates = scala.collection.mutable.Map.empty[Int, Long]
              fs.listStatus(topicPath).filter(_.isDirectory).foreach { tokenDir =>
                val idx = tokenDir.getPath.getName.stripPrefix("token=").toLongOption
                  .map(toks.indexOf(_)).getOrElse(-1)
                if (idx >= 0) fs.listStatus(tokenDir.getPath).filter(_.isDirectory)
                  .foreach { rangeDir =>
                    rangeDir.getPath.getName.stripPrefix("range=").toIntOption.foreach { rg =>
                      val p = idx * rangesPerToken + rg
                      val verPath = new org.apache.hadoop.fs.Path(
                        rangeDir.getPath, s"version=${g.version}")
                      if (p < partsOf(g) && fs.exists(verPath)) {
                        var mx = Long.MinValue
                        fs.listStatus(verPath).foreach { f =>
                          val n = f.getPath.getName
                          if (f.isFile && n.endsWith(".parquet") && !n.startsWith(".")) {
                            mx = math.max(mx,
                              TopicStore.int64StatsOf(f, conf, "offset")
                                .map(_._2).getOrElse(maxOffsetByRead(f, conf)))
                          }
                        }
                        if (mx != Long.MinValue && mx >= persisted.getOrElse(p, 0L)) {
                          updates(p) = mx + 1L
                          ()
                        }
                      }
                    }
                  }
              }
              // a partition-scoped process heals only ITS partitions:
              // orphans in another claim's partitions are that owner's
              // authority (its own first-touch heal advances them)
              val mine = planeLeasePartitions match {
                case Some(owned) => updates.filter(kv => owned.contains(kv._1))
                case None => updates
              }
              persisted ++ mine
            }
          if (healed != persisted)
            writeProducerOffsets(scope, healed,
              healed.keySet.filter(p => healed.get(p) != persisted.get(p)))
        }
        reconciled.add(rscope)
        ()
      }
      }
    }
    readOffsets(producerMeta, scope)
  }

  /** Watermark bases for a PRODUCE (offset assignment): on a
    * partition-scoped process, the cached owned view — this process's
    * own authority, so no per-flush storage re-read (which cost 4x on
    * the wire path); the first touch still routes through
    * [[producerOffsetsFor]] for the reconcile heal. Observer paths
    * (poll, lag, maintenance) keep calling [[producerOffsetsFor]], whose
    * merged view covers non-owned partitions.
    */
  private def producerBasesFor(topic: String, g: Generation): Map[Int, Long] =
    planeLeasePartitions match {
      case Some(owned) =>
        val scope = producerScopeFor(topic, g)
        if (reconciled.contains(lockRootKey + "|" + scope))
          ownedWatermarkView(scope, owned)
        else producerOffsetsFor(topic, g)
      case None => producerOffsetsFor(topic, g)
    }

  private def reconciled = TopicStore.globalReconciled

  /** Per-(generation version, partition) consumer lag across the topic's
    * LIVE lineage: high watermark minus committed next-read (the
    * operational metric every broker exposes; derived from the same two
    * offset maps the reference's R8 gossip aggregates). After a
    * metadata-only rescale a group's real backlog lives in ancestor
    * generations, so a current-generation-only readout would report 0
    * for a group that has not even started draining — the lineage sum is
    * the honest number. Partitions with no committed offset report the
    * full watermark as lag (raw committed state; start-policy skips are
    * not netted out here).
    */
  def lag(group: String, topic: String): Map[(Int, Int), Long] =
    generations(topic).flatMap { g =>
      val high = producerOffsetsFor(topic, g)
      val committed = groupOffsets(group, topic, g.version)
      high.map { case (p, hw) =>
        (g.version, p) -> math.max(0L, hw - committed.getOrElse(p, 0L))
      }
    }.toMap

  /** Committed next-read positions for the CURRENT generation. */
  def groupOffsets(group: String, topic: String): Map[Int, Long] =
    readOffsets(groupMeta, groupScope(group, topic))

  /** Committed next-read positions under an explicit generation version
    * (lineage observability: lag TVFs, drain checks).
    */
  def groupOffsets(group: String, topic: String, version: Int): Map[Int, Long] =
    readOffsets(groupMeta, s"${scopeDir(group)}/${scopeDir(topic)}/v$version")

  private def startingOffset(group: String, topic: String, part: Int, g: Generation): Long =
    registry.policy(group) match {
      case StartFrom.Earliest => 0L
      case StartFrom.Latest =>
        // a snapshot only applies to the generation it was taken under:
        // offsets restart per generation, so a watermark from one
        // generation applied to another would silently SKIP records.
        // Against the snapshot's OWN generation the snapshot is the
        // position; generations BEFORE it are history a Latest group
        // never owes (their watermark is the position — drained);
        // generations AFTER it (opened by rescales since registration)
        // are read in full from 0, the cross-generation twin of "new
        // records after the snapshot are delivered". A group with no
        // snapshot (never registered) degrades to 0 everywhere
        // (at-least-once re-read, never loss). Checked against the
        // CALLER's pinned generation so the whole poll sees one
        // consistent chain.
        val (snapVersion, snap) = registry.latestSnapshot(group, topic)
        if (g.version == snapVersion) snap.getOrElse(part, 0L)
        else if (g.version < snapVersion)
          producerOffsetsFor(topic, g).getOrElse(part, 0L)
        else 0L
    }

  // ------------------------------------------------------------ registry

  object StartFrom extends Enumeration {
    val Earliest, Latest = Value
  }

  // the durable group-registry row shape (_meta/groups): policy always,
  // plus one row per Latest-snapshot (topic, part, next, snap_version)
  private val registrySchema: org.apache.parquet.schema.MessageType = {
    import org.apache.parquet.schema.{LogicalTypeAnnotation, Types}
    import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName._
    Types.buildMessage()
      .addField(Types.required(BINARY)
        .as(LogicalTypeAnnotation.stringType()).named("policy"))
      .addField(Types.optional(BINARY)
        .as(LogicalTypeAnnotation.stringType()).named("topic"))
      .addField(Types.optional(INT32).named("part"))
      .addField(Types.optional(INT64).named("next"))
      .addField(Types.optional(INT32).named("snap_version"))
      .named("group")
  }

  /** Consumer-group registry (R1/R2): deterministic round-robin of the
    * topic generation's ring partitions over sorted consumer ids. Live
    * membership is driver-side (the gossip/anti-entropy layers C7-C9
    * collapse into the single driver; consumers re-register after a
    * restart, as they re-gossip in the reference), but group POLICIES and
    * Latest snapshots are durable in `_meta/groups` — the SQLite
    * consumer-group state the reference persists and republishes
    * (`internal/localdb/queries.go:237`) — so a fresh store over the same
    * root resumes every group at its committed offsets with its policy.
    */
  object registry {
    private var groups: Map[String, Set[String]] = Map.empty
    private var policies: Map[String, StartFrom.Value] = Map.empty
    // snapshot value = (generation version it was taken under, offsets)
    private var latestSnapshots: Map[(String, String), (Int, Map[Int, Long])] = Map.empty

    private def persistedDir(group: String) = s"$registryMeta/${scopeDir(group)}"

    /** Recover a group's durable policy + snapshots into the in-memory
      * maps (no-op when already loaded or never persisted). Driver-side
      * parquet group read — a consumer registration sits on the REST
      * serving path and must not pay a Spark job; files written by the
      * old DataFrame path (and pre-snap_version files without that
      * column) read identically.
      */
    private def loadIfAbsent(group: String): Unit = {
      if (policies.contains(group)) return
      val p = persistedDir(group)
      if (!pathExists(p)) return
      def readOnce(): Seq[(String, Option[String], Option[Int], Option[Long], Int)] = {
        val fs = hfs(p)
        val files = fs.listStatus(hpath(p)).toSeq.map(_.getPath)
          .filter(f => f.getName.endsWith(".parquet") &&
            !f.getName.startsWith(".") && !f.getName.startsWith("_"))
        // newest file only — see readOffsets' rename-first swap note
        files.sortBy(_.getName).lastOption.toSeq.flatMap { f =>
          val out = Seq.newBuilder[(String, Option[String], Option[Int], Option[Long], Int)]
          val r = TopicStore.groupReader(f, spark.sparkContext.hadoopConfiguration).build()
          try {
            var g = r.read()
            while (g != null) {
              def has(field: String) =
                g.getType.containsField(field) && g.getFieldRepetitionCount(field) > 0
              out += ((
                g.getString("policy", 0),
                if (has("topic")) Some(g.getString("topic", 0)) else None,
                if (has("part")) Some(g.getInteger("part", 0)) else None,
                if (has("next")) Some(g.getLong("next", 0)) else None,
                // tolerate registries persisted before snapshots carried
                // a version
                if (has("snap_version")) g.getInteger("snap_version", 0) else 1))
              g = r.read()
            }
          } finally r.close()
          out.result()
        }
      }
      // same transient-swap FNF retry as readOffsets: a concurrent
      // persist's swap can yank a just-listed file from a cross-instance
      // reader
      var res: Either[Throwable, Seq[(String, Option[String], Option[Int], Option[Long], Int)]] =
        try Right(readOnce()) catch { case TopicStore.Vanished(e) => Left(e) }
      var i = 0
      while (res.isLeft && i < 5) {
        Thread.sleep(50)
        res = try Right(readOnce()) catch { case TopicStore.Vanished(e) => Left(e) }
        i += 1
      }
      val rows = res.fold(throw _, identity)
      rows.headOption.foreach { r =>
        policies = policies.updated(group, StartFrom.withName(r._1))
      }
      rows.collect {
        case (_, Some(t), Some(part), Some(next), v) => (t, part, next, v)
      }.groupBy(_._1).foreach { case (t, snap) =>
        latestSnapshots = latestSnapshots
          .updated((group, t), (snap.head._4, snap.map(s => s._2 -> s._3).toMap))
      }
    }

    private def persist(group: String): Unit = {
      import org.apache.parquet.example.data.simple.SimpleGroupFactory
      val pol = policies(group).toString
      val snaps = latestSnapshots.collect {
        case ((`group`, t), (v, m)) if m.nonEmpty =>
          m.toSeq.map { case (part, next) =>
            (pol, Option(t), Option(part), Option(next), Option(v))
          }
      }.flatten.toSeq
      val rows =
        if (snaps.nonEmpty) snaps
        else Seq((pol, Option.empty[String], Option.empty[Int],
          Option.empty[Long], Option.empty[Int]))
      val gf = new SimpleGroupFactory(registrySchema)
      swapWriteGroups(persistedDir(group), registrySchema, rows.map {
        case (p, t, part, next, v) =>
          val g = gf.newGroup().append("policy", p)
          t.foreach { x => g.append("topic", x); () }
          part.foreach { x => g.append("part", x); () }
          next.foreach { x => g.append("next", x); () }
          v.foreach { x => g.append("snap_version", x); () }
          g
      }, PlaneLease.ConsumerAuthority)
    }

    /** Idempotent register; Latest groups snapshot current watermarks per
      * topic at first registration (R7 default-offset derivation). First
      * registration persists the group, so the policy survives a driver
      * restart even though live membership does not.
      */
    def register(
        group: String,
        consumerId: String,
        topics: Seq[String],
        onNewGroup: StartFrom.Value = StartFrom.Latest): Unit = {
      // registration persists the group row (`_meta/groups`): a write,
      // so it sits behind the cross-process plane lease like every other
      // mutating path (consumers register through the serving driver)
      ensureConsumerPlane()
      // warm the watermark reconcile OUTSIDE the registry lock: the first
      // producerOffsets per (topic, generation) runs a Spark scan, and
      // holding the lock through it would stall every concurrent
      // policy()/latestSnapshot() lookup on the serving path (a
      // consumer-plane process reads persisted watermarks instead — the
      // heal is a producer-authority write, gated in producerOffsetsFor)
      if (onNewGroup == StartFrom.Latest) topics.foreach(producerOffsets)
      registerLocked(group, consumerId, topics, onNewGroup)
    }

    private def registerLocked(
        group: String,
        consumerId: String,
        topics: Seq[String],
        onNewGroup: StartFrom.Value): Unit = {
      // Latest snapshots pair ONE captured generation with ITS watermark
      // (the old generation(t).version + producerOffsets(t) pair
      // re-resolved the generation inside the second read, so a rescale
      // flipping between them persisted snapshot version v with v+1's
      // EMPTY watermark — startingOffset then served the whole v backlog
      // to a group that asked for Latest). The read happens OUTSIDE the
      // registry monitor: it takes the topic READ lock, while maintenance
      // ops under the topic WRITE lock call monitor-taking registry reads
      // (groupHasLag -> startingOffset -> policy) — holding the monitor
      // across the read-lock acquisition would be an ABBA cycle. The
      // registry monitor stays a LEAF lock. A concurrent register of the
      // same group just discards the loser's snapshot (isNew decides once,
      // under the monitor).
      val snaps: Seq[((String, String), (Int, Map[Int, Long]))] =
        if (onNewGroup == StartFrom.Latest)
          topics.map { t =>
            val g = generation(t)
            ((group, t), (g.version, producerOffsetsFor(t, g)))
          }
        else Seq.empty
      synchronized {
        loadIfAbsent(group)
        val isNew = !policies.contains(group)
        groups = groups.updated(group, groups.getOrElse(group, Set.empty) + consumerId)
        if (isNew) {
          policies = policies.updated(group, onNewGroup)
          snaps.foreach { case (k, v) =>
            latestSnapshots = latestSnapshots.updated(k, v)
          }
          persist(group)
        }
      }
    }

    def goodbye(group: String, consumerId: String): Unit = synchronized {
      groups = groups.updated(group, groups.getOrElse(group, Set.empty) - consumerId)
    }

    def policy(group: String): StartFrom.Value = synchronized {
      loadIfAbsent(group)
      policies.getOrElse(group, StartFrom.Latest)
    }

    /** (generation version the snapshot was taken under, per-part offsets). */
    def latestSnapshot(group: String, topic: String): (Int, Map[Int, Long]) = synchronized {
      loadIfAbsent(group)
      latestSnapshots.getOrElse((group, topic), (0, Map.empty))
    }

    /** Partition ordinals owned by a consumer under the topic's current
      * generation: sorted ids, round-robin over ordinals —
      * `consumer_state.go:308-350` determinism.
      */
    def assignment(group: String, consumerId: String, topic: String): Seq[Int] =
      assignmentFor(group, consumerId, generation(topic))

    /** Assignment against an EXPLICIT generation — poll passes its pinned
      * one so a rescale flipping mid-poll cannot hand out partition
      * ordinals beyond the captured ring.
      */
    private[engine] def assignmentFor(
        group: String, consumerId: String, g: Generation): Seq[Int] = {
      // synchronized like every other registry read: an unsynchronized
      // read of `groups` has no happens-before edge with a concurrent
      // register/goodbye, so two pollers could transiently compute
      // overlapping round-robin ownership (duplicate delivery)
      val ids = synchronized { groups.getOrElse(group, Set.empty) }.toSeq.sorted
      if (!ids.contains(consumerId)) return Seq.empty
      val mine = (0 until partsOf(g)).filter(p => ids(p % ids.size) == consumerId)
      // a RANGE-SCOPED consumer member SERVES only its claim: membership
      // is member-local (consumers register with the member owning their
      // ranges), so the round-robin runs over this member's consumers and
      // the claim restricts what they can be handed — disjoint members
      // together cover the ring, the reference's consumers-per-broker
      // assignment
      consumerClaim.fold(mine)(owned => mine.filter(owned.contains))
    }
  }

  // -------------------------------------------------- maintenance locking

  // purge/compact/retention delete-or-rewrite live files in place: a poll
  // that planned its file list just before the swap fails with
  // FileNotFoundException, and one scanning mid-swap (rename-in done,
  // delete pending) double-delivers survivors at identical (part, offset).
  // Maintenance therefore takes the topic's WRITE lock and serving reads
  // take the READ lock around their materialization (the REST poll collect
  // does; the DSv2 source takes it around its generation-read + file
  // listing; direct DataFrame users should wrap their action in
  // `withTopicReads` when maintenance may run concurrently). The lock is
  // reentrant and write→read downgrade-safe (rescale under the write lock
  // produces under the read lock), and it is JVM-GLOBAL per (root, topic)
  // — keyed in the companion, not per instance — so an observer store
  // (the DSv2 scan builds its own TopicStore over the same root) and the
  // serving store serialize on the SAME lock. Two instances over the same
  // root previously held independent locks, which let an observer list
  // files mid-swap.
  private def topicLock(topic: String) = TopicStore.lockForKey(lockRootKey, topic)

  /** Run a maintenance operation (purge/compact/retention/rescale) with
    * exclusive ownership of the topic's files.
    */
  def withTopicMaintenance[T](topic: String)(body: => T): T = {
    ensurePlaneOwnedRoot()
    val l = topicLock(topic).writeLock(); l.lock()
    try body finally l.unlock()
  }

  /** Run a read-side materialization (a poll's collect) with the topic's
    * files pinned against concurrent maintenance swaps.
    */
  def withTopicReads[T](topic: String)(body: => T): T = {
    val l = topicLock(topic).readLock(); l.lock()
    try body finally l.unlock()
  }

  // ----------------------------------------------------------- retention

  /** Retention sweep (S10): delete whole data files whose newest record is
    * older than the cutoff — the analog of segment-file deletion
    * (`datalog_cleaner.go`), file-granular so it never rewrites live data.
    *
    * The expiry decision comes from the parquet FOOTER timestamp stats
    * (max per row group), cached per immutable file — a metadata-only
    * walk. The old implementation ran `groupBy(input_file_name)
    * .max(timestamp)` over the topic's FULL DATA on every sweeper tick,
    * which at 100 TB re-reads the entire topic every 5 minutes to learn
    * numbers the footers already hold. A file without timestamp stats is
    * conservatively kept.
    */
  def retentionSweep(topic: String, cutoff: java.sql.Timestamp): Int = withTopicMaintenance(topic) {
    val topicPath = hpath(s"$dataDir/topic=${escapeDir(topic)}")
    val fs = hfs(topicPath.toString)
    if (!fs.exists(topicPath)) return 0
    val cutoffMicros = cutoff.getTime * 1000L + (cutoff.getNanos % 1000000) / 1000L
    val conf = spark.sparkContext.hadoopConfiguration
    val leafDirs = fs.listStatus(topicPath).filter(_.isDirectory)
      .flatMap(t => fs.listStatus(t.getPath).filter(_.isDirectory))
      .flatMap(r => fs.listStatus(r.getPath).filter(_.isDirectory))
    val futs = leafDirs.toSeq.map { dir =>
      TopicStore.localWritePool.submit(new java.util.concurrent.Callable[Int] {
        override def call(): Int = {
          var deleted = 0
          val now = System.currentTimeMillis()
          fs.listStatus(dir.getPath).foreach { f =>
            val n = f.getPath.getName
            if (f.isFile && n.endsWith(".parquet") && !n.startsWith(".")) {
              TopicStore.int64StatsOf(f, conf, "timestamp") match {
                case Some((_, mx)) if mx < cutoffMicros =>
                  if (fs.delete(f.getPath, false)) deleted += 1
                case _ => () // no stats -> keep (never expire blind)
              }
            } else if (f.isFile && n.startsWith(".") && n.endsWith(".tmp") &&
                f.getModificationTime < now - 3600000L) {
              // orphaned dot-tmp from a crashed compact/purge/local-produce
              // writer: invisible to every reader and to the small-file
              // filters, so nothing else ever reclaims it. The 1 h age
              // gate keeps a live writer's in-flight tmp safe (its write
              // completes in seconds; maintenance holds the write lock)
              if (fs.delete(f.getPath, false)) deleted += 1
            }
          }
          deleted
        }
      })
    }
    futs.map(_.get()).sum
  }

  /** Compaction sweep: per (token, range) partition dir, rewrite parquet
    * files smaller than `smallFileBytes` into one offset-sorted file. The
    * scale analog of the reference's segment sizing (1 GiB rotation,
    * `internal/data/segment_writer.go:243-266`): many small produce
    * batches otherwise accumulate one file each per partition, and at
    * 100 TB the file count — not the byte count — becomes the scan
    * bottleneck. Offsets/ordering are preserved (readers order by
    * (part, offset) anyway); like `retentionSweep`, it is maintenance
    * that must not run concurrently with writers to the same topic.
    * Returns the number of small files replaced.
    */
  def compact(topic: String, smallFileBytes: Long = 128L * 1024 * 1024): Int = withTopicMaintenance(topic) {
    import org.apache.hadoop.fs.Path
    val topicPath = hpath(s"$dataDir/topic=${escapeDir(topic)}")
    val fs = hfs(topicPath.toString)
    if (!fs.exists(topicPath)) return 0
    // leaf dirs are topic=/token=/range=/version=; dirs compact in
    // parallel on the local-IO pool — each merge is a DRIVER-SIDE k-way
    // merge by offset over the small files (every topic data file is
    // internally offset-sorted by both produce planes), O(k) memory, no
    // Spark job: the old coalesce(1)-read-write paid a ~1 s job PER
    // LEAF DIR, which made a routine compaction of a 48-partition topic
    // cost ~48 jobs of scheduling floor
    val rangeDirs = fs.listStatus(topicPath).filter(_.isDirectory)
      .flatMap(t => fs.listStatus(t.getPath).filter(_.isDirectory))
      .flatMap(r => fs.listStatus(r.getPath).filter(_.isDirectory))
    val futs = rangeDirs.toSeq.map { dir =>
      TopicStore.localWritePool.submit(new java.util.concurrent.Callable[Int] {
        override def call(): Int = compactDir(dir.getPath, smallFileBytes)
      })
    }
    futs.map(_.get()).sum
  }

  /** Merge one leaf dir's small files into a single offset-sorted zstd
    * file, driver-side. Loud-failure swap discipline (same as the
    * writeOffsets swap): the merged file is written dot-prefixed
    * (hidden from readers), renamed visible FIRST, and only then are
    * the originals deleted — a silently-false rename would let the
    * delete destroy the only copy, a silently-false delete would
    * double-deliver. Runs under the topic's maintenance write lock
    * (the caller), so no reader observes the double-visible window.
    */
  private def compactDir(dirPath: org.apache.hadoop.fs.Path, smallFileBytes: Long): Int = {
    import org.apache.hadoop.fs.Path
    import org.apache.parquet.example.data.simple.SimpleGroupFactory
    import org.apache.parquet.hadoop.example.ExampleParquetWriter
    import org.apache.parquet.hadoop.metadata.CompressionCodecName
    import org.apache.parquet.io.api.Binary
    val fs = hfs(dirPath.toString)
    val small = fs.listStatus(dirPath).filter { f =>
      f.isFile && f.getPath.getName.endsWith(".parquet") && f.getLen < smallFileBytes
    }
    if (small.length < 2) return 0
    val conf = new org.apache.hadoop.conf.Configuration(spark.sparkContext.hadoopConfiguration)
    val fin = new Path(dirPath, s"compacted-${System.nanoTime()}-0.parquet")
    val tmp = new Path(dirPath, s".${fin.getName}.tmp")
    val gf = new SimpleGroupFactory(localFileSchema)
    val readers = small.map(f => TopicStore.groupReader(f.getPath, conf).build())
    try {
      val w = ExampleParquetWriter.builder(tmp).withConf(conf)
        .withType(localFileSchema)
        .withCompressionCodec(CompressionCodecName.ZSTD)
        .build()
      try {
        // k-way merge on (offset): heads ordered in a priority queue
        val heads = new java.util.PriorityQueue[(Long, Int)](
          math.max(1, readers.length),
          (a: (Long, Int), b: (Long, Int)) => java.lang.Long.compare(a._1, b._1))
        val current = new Array[org.apache.parquet.example.data.Group](readers.length)
        def advance(i: Int): Unit = {
          val g = readers(i).read()
          current(i) = g
          if (g != null) { heads.add((g.getLong("offset", 0), i)); () }
        }
        readers.indices.foreach(advance)
        while (!heads.isEmpty) {
          val (_, i) = heads.poll()
          w.write(copyRecordGroup(gf, current(i)))
          advance(i)
        }
      } finally w.close()
    } finally readers.foreach(r => try r.close() catch { case _: Exception => () })
    if (!fs.rename(tmp, fin))
      throw new java.io.IOException(s"compact: rename $tmp -> $fin failed")
    small.foreach { f =>
      if (!fs.delete(f.getPath, false))
        throw new java.io.IOException(s"compact: could not delete ${f.getPath}")
    }
    small.length
  }

  /** Time-based offset lookup (Kafka's `offsetsForTimes` analog — the
    * reference only has earliest/latest start policies): per ring
    * partition, the EARLIEST offset whose record timestamp is >= `ts`;
    * partitions with no such record map to their high watermark (seek
    * lands at the end, Kafka's convention). One scan of the current
    * generation with the timestamp predicate on parquet row-group stats,
    * aggregated map-side to partition-count rows. Timestamps need not be
    * globally ordered: like Kafka, the cut is an OFFSET position — later
    * records with earlier timestamps are still delivered after the seek.
    * The returned map is the CURRENT generation's cut (one entry per
    * current ring partition — the shape every caller keys on);
    * `seekToTime` additionally applies the per-ancestor cuts so a seek
    * is correct across the whole live lineage.
    */
  def offsetsForTime(topic: String, ts: java.sql.Timestamp): Map[Int, Long] =
    offsetsForTimeByGen(topic, ts, generations(topic))(generation(topic).version)

  /** The time cut per LIVE generation: one scan over the lineage grouped
    * by (version, part) — the predicate sits on parquet row-group
    * timestamp stats, aggregated map-side to ring-size rows per
    * generation. Complete-map shape per generation (partitions with no
    * record at/after the cut map to their high watermark).
    */
  private def offsetsForTimeByGen(
      topic: String,
      ts: java.sql.Timestamp,
      chain: Seq[Generation]): Map[Int, Map[Int, Long]] = {
    // the cut collects eagerly and DECIDES seekToTime's commits, so the
    // topic read lock pins its file listing against a concurrent
    // compact/purge swap — the same discipline as the poll commit
    // decisions: an unpinned swap reads as silently-missing rows
    // (ignoreMissingFiles) and maps live partitions to their high
    // watermark, committing a seek PAST undelivered records
    val byGen: Map[Int, Map[Int, Long]] =
      if (!dataDirExists) Map.empty
      else withTopicReads(topic) {
        spark.read.schema(recordSchema).parquet(dataDir)
          .where(col("topic") === topic &&
            col("version").isin(chain.map(_.version): _*) &&
            col("timestamp") >= lit(ts))
          .groupBy(col("version"), col("part")).agg(min(col("offset")).as("o"))
          .as[(Int, Int, Long)].collect()
          .groupBy(_._1).view.mapValues(_.map(t => t._2 -> t._3).toMap).toMap
      }
    chain.map { g =>
      val high = producerOffsetsFor(topic, g)
      val hits = byGen.getOrElse(g.version, Map.empty[Int, Long])
      g.version ->
        (0 until partsOf(g)).map(p => p -> hits.getOrElse(p, high.getOrElse(p, 0L))).toMap
    }.toMap
  }

  /** Per-(live generation, partition) storage + watermark stats:
    * (version, part, parquet file count, bytes, high watermark) — the
    * broker admin/observability readout behind the `topic_stats` TVF
    * (file counts feed the compaction decision, bytes the retention
    * budget). After a metadata-only rescale the bulk of a topic's
    * storage sits in ancestor generations, so a current-generation-only
    * readout would report a near-empty topic.
    * Driver-side FS listing of the partition leaf dirs under the read
    * lock — metadata-sized, no data scan; one chain read pins the dir
    * set and the offsets scopes.
    */
  def topicStats(topic: String): Seq[(Int, Int, Long, Long, Long)] =
    withTopicReads(topic) {
      generations(topic).flatMap { g =>
        val toks = tokensOf(g)
        val hw = producerOffsetsFor(topic, g)
        (0 until partsOf(g)).map { p =>
          val dir = s"$dataDir/topic=${escapeDir(topic)}/token=${toks(p / rangesPerToken)}" +
            s"/range=${p % rangesPerToken}/version=${g.version}"
          val (files, bytes) =
            if (pathExists(dir)) {
              val st = hfs(dir).listStatus(hpath(dir))
                .filter(s => s.isFile && s.getPath.getName.endsWith(".parquet"))
              (st.length.toLong, st.map(_.getLen).sum)
            } else (0L, 0L)
          (g.version, p, files, bytes, hw.getOrElse(p, 0L))
        }
      }
    }

  /** Reposition a consumer group at a point in time: commit the
    * `offsetsForTime` cut through the admin path (no origin/ownership
    * check, monotonicity still enforced — a seek can only move the group
    * FORWARD; replaying backwards means registering a fresh group, which
    * is the at-least-once-safe direction). The cut applies PER LIVE
    * GENERATION: ancestor generations commit their own cuts, so records
    * at/after `ts` anywhere in the lineage are still delivered while
    * everything before it is skipped in every generation. Returns the
    * accepted current-generation positions.
    */
  def seekToTime(group: String, topic: String, ts: java.sql.Timestamp): Map[Int, Long] = {
    val chain = generations(topic)
    val cuts = offsetsForTimeByGen(topic, ts, chain)
    chain.init.foreach { g =>
      commit(group, topic, cuts(g.version), origin = "", version = g.version)
      ()
    }
    commit(group, topic, cuts(chain.last.version), origin = "",
      version = chain.last.version)
  }

  /** GDPR-style key purge (right-to-be-forgotten): rewrite the topic's
    * CURRENT generation dropping every record whose partition key is in
    * `keys`, file-granular per leaf dir with compact's rename-first swap
    * discipline (no original is touched until its replacement is durably
    * in place). Surviving records keep their offsets BYTE-IDENTICAL —
    * purge leaves gaps in the offset sequence rather than renumbering,
    * because renumbering would silently shift committed consumer
    * positions onto different records. Consumers are unaffected: the
    * poll predicate is a range (`>= from`), not a dense walk, and the
    * producer watermark never moves backwards, so no offset is ever
    * reissued. §2.6.3's contiguity guarantee applies to records as
    * produced; an explicit erasure is the documented exception (the same
    * trade log compaction makes).
    *
    * Scale notes: only leaf dirs that actually CONTAIN a forget key are
    * rewritten (membership probe per dir against the broadcast key set —
    * the forget list is human-sized); untouched ranges keep their files.
    * At object-store scale this is the standard compaction-style erasure
    * job; schedule it like `compact`/`retentionSweep`.
    *
    * Returns the number of records purged.
    */
  def purgeKeys(topic: String, keys: Seq[String]): Long = withTopicMaintenance(topic) {
    require(keys.nonEmpty, "purgeKeys: empty forget list")
    val live = generations(topic).map(g => s"version=${g.version}").toSet
    val topicPath = hpath(s"$dataDir/topic=${escapeDir(topic)}")
    val fs = hfs(topicPath.toString)
    if (!fs.exists(topicPath)) return 0L
    val keySet = keys.toSet
    val leafDirs = fs.listStatus(topicPath).filter(_.isDirectory)
      .flatMap(t => fs.listStatus(t.getPath).filter(_.isDirectory))
      .flatMap(r => fs.listStatus(r.getPath).filter(_.isDirectory))
      // every LIVE generation: after a metadata-only rescale the
      // forgotten key's records live in ancestor generations too — a
      // current-generation-only erasure would keep serving them.
      // Non-live version dirs are reclaimed wholesale by
      // sweepStaleGenerations, not rewritten record-by-record.
      .filter(d => live.contains(d.getPath.getName))
    // FILE-granular, driver-side, dirs in parallel on the local-IO pool:
    // a cheap key-projection pass finds the files that actually contain
    // a forget key (only the key column's pages are read), and only
    // those are rewritten — the old implementation ran two Spark jobs
    // per leaf dir (count + coalesce(1) rewrite of the WHOLE dir),
    // ~100 s of job-scheduling floor for one key on a 48-partition
    // topic, and rewrote untouched files alongside the guilty ones.
    val futs = leafDirs.toSeq.map { dir =>
      TopicStore.localWritePool.submit(new java.util.concurrent.Callable[Long] {
        override def call(): Long = purgeDir(dir.getPath, keySet)
      })
    }
    futs.map(_.get()).sum
  }

  /** Erase `keySet`'s records from one leaf dir, file-granular: probe
    * each file with a key-only projection read; rewrite only files with
    * hits (survivors keep byte-identical offsets and file order, which
    * is offset order). Swap discipline per file: survivor written
    * dot-prefixed, renamed visible FIRST, then the original deleted —
    * under the topic write lock no reader observes the double-visible
    * instant, and a crash between the two re-reads duplicates
    * (at-least-once direction) rather than losing survivors. A file
    * whose every record is purged is simply deleted.
    */
  private def purgeDir(dirPath: org.apache.hadoop.fs.Path, keySet: Set[String]): Long = {
    import org.apache.hadoop.fs.Path
    import org.apache.parquet.example.data.simple.SimpleGroupFactory
    import org.apache.parquet.hadoop.example.ExampleParquetWriter
    import org.apache.parquet.hadoop.metadata.CompressionCodecName
    val fs = hfs(dirPath.toString)
    val conf = new org.apache.hadoop.conf.Configuration(spark.sparkContext.hadoopConfiguration)
    // key-only projection for the probe pass: only the key column's
    // pages are decoded
    val probeConf = new org.apache.hadoop.conf.Configuration(conf)
    probeConf.set(org.apache.parquet.hadoop.api.ReadSupport.PARQUET_READ_SCHEMA,
      "message probe { optional binary key (UTF8); }")
    val files = fs.listStatus(dirPath).filter { f =>
      val n = f.getPath.getName
      f.isFile && n.endsWith(".parquet") && !n.startsWith(".")
    }
    var purged = 0L
    files.foreach { f =>
      var hits = 0L
      var survivors = 0L
      locally {
        val r = TopicStore.groupReader(f.getPath, probeConf).build()
        try {
          var g = r.read()
          while (g != null) {
            val isHit = g.getFieldRepetitionCount("key") > 0 &&
              keySet.contains(g.getString("key", 0))
            if (isHit) hits += 1 else survivors += 1
            g = r.read()
          }
        } finally r.close()
      }
      if (hits > 0 && survivors == 0) {
        if (!fs.delete(f.getPath, false))
          throw new java.io.IOException(s"purgeKeys: could not delete ${f.getPath}")
        purged += hits
      } else if (hits > 0) {
        val fin = new Path(dirPath, s"purged-${System.nanoTime()}-0.parquet")
        val tmp = new Path(dirPath, s".${fin.getName}.tmp")
        val gf = new SimpleGroupFactory(localFileSchema)
        val r = TopicStore.groupReader(f.getPath, conf).build()
        try {
          val w = ExampleParquetWriter.builder(tmp).withConf(conf)
            .withType(localFileSchema)
            .withCompressionCodec(CompressionCodecName.ZSTD)
            .build()
          try {
            var g = r.read()
            while (g != null) {
              val isHit = g.getFieldRepetitionCount("key") > 0 &&
                keySet.contains(g.getString("key", 0))
              if (!isHit) w.write(copyRecordGroup(gf, g))
              g = r.read()
            }
          } finally w.close()
        } finally r.close()
        if (!fs.rename(tmp, fin))
          throw new java.io.IOException(s"purgeKeys: rename $tmp -> $fin failed")
        if (!fs.delete(f.getPath, false))
          throw new java.io.IOException(s"purgeKeys: could not delete ${f.getPath}")
        purged += hits
      }
    }
    purged
  }

  /** Max `offset` in a data file, by a key-column-free projection read —
    * the statless-footer fallback of the reconcile heal. Long.MinValue
    * for an empty file.
    */
  private def maxOffsetByRead(
      st: org.apache.hadoop.fs.FileStatus,
      conf: org.apache.hadoop.conf.Configuration): Long = {
    val pc = new org.apache.hadoop.conf.Configuration(conf)
    pc.set(org.apache.parquet.hadoop.api.ReadSupport.PARQUET_READ_SCHEMA,
      "message probe { required int64 offset; }")
    val r = TopicStore.groupReader(st.getPath, pc).build()
    try {
      var mx = Long.MinValue
      var g = r.read()
      while (g != null) {
        mx = math.max(mx, g.getLong("offset", 0))
        g = r.read()
      }
      mx
    } finally r.close()
  }

  /** Copy one record-envelope Group (either file flavor) into the local
    * writer schema, field presence preserved.
    */
  private def copyRecordGroup(
      gf: org.apache.parquet.example.data.simple.SimpleGroupFactory,
      g: org.apache.parquet.example.data.Group): org.apache.parquet.example.data.Group = {
    import org.apache.parquet.io.api.Binary
    val out = gf.newGroup()
    if (g.getFieldRepetitionCount("key") > 0)
      out.append("key", g.getString("key", 0))
    if (g.getFieldRepetitionCount("value") > 0)
      out.append("value", Binary.fromConstantByteArray(g.getBinary("value", 0).getBytes))
    if (g.getFieldRepetitionCount("timestamp") > 0)
      out.append("timestamp", g.getLong("timestamp", 0))
    out.append("part", g.getInteger("part", 0))
      .append("offset", g.getLong("offset", 0))
    out
  }

  /** Elastic rescale (C3 range split / C4 range join): open the topic's
    * NEXT GENERATION in place under a `newClusterSize` ring —
    * METADATA-ONLY, the reference's zero-copy generation dance
    * (`ownership/process_local_split_range.go:12-132`,
    * `process_local_join_range.go`): generation v+1 starts EMPTY, no
    * record moves, and the old generations stay addressable through the
    * chain (`Parents` lineage). Subsequent produces land in v+1 with
    * offsets restarting at 0 per partition (the producer watermark scope
    * includes the generation, `coalescer.go:124-135`); consumers drain
    * the ancestors in chain order before v+1 records (`poll`'s lineage
    * walk — the reference's `offset_state.go:260-302` earliest-ancestor
    * BFS), which preserves per-key total order across the ring change. A
    * group that had fully drained the old lineage simply starts v+1 at
    * its (empty) beginning — nothing is re-delivered. Old-generation
    * files stay until `retentionSweep` (time) or
    * `sweepStaleGenerations` (drain) reclaims them.
    *
    * Cost: two tiny `_meta` writes — independent of topic size. The old
    * implementation rewrote the topic's full history into the new
    * generation; at 100 TB a ring change cost a full-topic shuffle +
    * rewrite, which this removes (work proportional to the CHANGE, not
    * to history).
    */
  // produceLock OUTSIDE the write lock: produce's reconcile acquires the
  // topic READ lock while holding produceLock, so a rescale acquiring
  // produceLock while holding the WRITE lock would deadlock with it (the
  // JVM-wide lock order is produceLock -> topic RW lock). produceLock
  // still serializes the flip against concurrent produces: a produce
  // pins its generation under the same lock, so it lands either wholly
  // under v (still live in the chain — nothing strands) or wholly under
  // v+1 after the flip.
  /** COORDINATED online rescale over a multi-process deployment: ask
    * every live scoped claimant (partition producers, consumer members)
    * to flush-and-release via the drain protocol, wait for their claims
    * to clear, run [[rescale]] under freshly acquired root authority,
    * then clear the drain so the members re-acquire and continue under
    * the new generation — the online half of the reference's
    * serve-while-splitting range flip
    * (`internal/ownership/process_local_split_range.go:12-132`), with
    * the drain replacing its in-flight-generation handshake. Claimants
    * abort in-flight commits RETRYABLY ([[PlaneDrainingException]]) and
    * their stores re-acquire automatically on the next mutating call;
    * their clients retry per the at-least-once contract. The caller
    * should [[releasePlaneLease]] (or exit) afterwards if it is not the
    * deployment's long-lived root owner.
    */
  def rescaleWithDrain(
      topic: String,
      newClusterSize: Int,
      drainTimeoutMs: Long = 60000L): Generation = {
    val hc = spark.sparkContext.hadoopConfiguration
    PlaneLease.requestDrain(root, hc)
    var clearing = false
    try {
      val deadline = System.currentTimeMillis() + drainTimeoutMs
      var live = PlaneLease.liveScopedClaims(root, hc)
      while (live.nonEmpty && System.currentTimeMillis() < deadline) {
        Thread.sleep(100)
        live = PlaneLease.liveScopedClaims(root, hc)
      }
      if (live.nonEmpty)
        throw new IllegalStateException(
          s"rescaleWithDrain($topic): drain did not complete within " +
            s"${drainTimeoutMs}ms — still live: ${live.mkString("; ")} " +
            "(claimants release at their next commit or heartbeat; raise " +
            "the timeout or check the members' health)")
      val gen = rescale(topic, newClusterSize)
      clearing = true
      PlaneLease.clearDrain(root, hc) // a clear failure here IS the error
      gen
    } catch {
      case primary: Throwable =>
        // clearDrain can itself throw (a stuck per-dir copy): never let
        // the cleanup failure REPLACE the body's diagnosis — the operator
        // needs to know WHICH claimants never drained, with the cleanup
        // error attached as suppressed
        if (!clearing) {
          try PlaneLease.clearDrain(root, hc)
          catch { case cleanup: Throwable => primary.addSuppressed(cleanup) }
        }
        throw primary
    }
  }

  /** Hand this process's plane lease back cleanly (no fence): a
    * maintenance coordinator releases after its window so the
    * deployment's scoped members can re-acquire.
    */
  def releasePlaneLease(): Unit = PlaneLease.releaseOwned(lockRootKey)

  def rescale(
      topic: String,
      newClusterSize: Int,
      requireDrained: Boolean = false): Generation = {
    require(newClusterSize >= 1 && newClusterSize <= graft.core.TokenRing.MaxRingSize,
      s"rescale($topic): cluster size must be in [1, ${graft.core.TokenRing.MaxRingSize}], " +
        s"got $newClusterSize (normalize with TokenRing.validRingLength)")
    produceLock.synchronized { exclusivePlane { withTopicMaintenance(topic) {
    val chain = generations(topic)
    // mechanical drain-before-rescale (the reference waits for sibling
    // OffsetCompleted before joining ranges, `offset_state.go:690-714`):
    // with requireDrained the documented discipline is enforced — the
    // rescale refuses while any group with committed state under the
    // live lineage still has lag. Without it the rescale is still safe
    // (ancestors keep serving), the flag just bounds the lineage depth a
    // deployment accumulates.
    if (requireDrained) {
      val undrained = knownGroups(topic, chain)
        .filter(gr => groupHasLag(gr, topic, chain))
      if (undrained.nonEmpty) throw new IllegalStateException(
        s"rescale($topic): groups still have lag under the live lineage " +
          s"(versions ${chain.map(_.version).mkString(",")}): " +
          s"${undrained.sorted.mkString(", ")} — drain them or call with requireDrained=false")
    }
    val next = Generation(chain.last.version + 1, newClusterSize)
    // defense-in-depth: clear any stray files under the next version
    // (nothing writes there before the flip, but a crashed pre-lineage
    // copying rescale may have left partial v+1 dirs behind — serving
    // them as live data would duplicate records)
    clearGenerationData(topic, next)
    // chain hygiene: a generation that never received a record and has
    // no group-offset state is indistinguishable from never having
    // existed — drop it at the flip instead of letting a flapping
    // topology feed grow the chain (and every poll's lineage walk)
    // without bound. Version numbers stay monotone (`next` still bumps
    // past the dropped entries), so stream checkpoints never see a
    // version reused with different contents; each dropped version
    // leaves a TOMBSTONE row (`droppedEmptyVersions`) so a stream
    // positioned there can prove it had nothing to read and re-anchor
    // forward — without one, absence from the chain is
    // indistinguishable from a swept-with-data generation, and the
    // source must fail loudly. Only metadata is touched — the dropped
    // generations have no data dirs by definition.
    val (kept, dropped) = chain.partition { g =>
      producerOffsetsFor(topic, g).nonEmpty || knownGroups(topic, Seq(g)).nonEmpty
    }
    val tombs = (genRows(topic).filter(_.clusterSize == 0) ++
      dropped.map(g => Generation(g.version, 0))).sortBy(_.version).takeRight(64)
    // the flip IS the rescale: one durable chain write. A crash before
    // it leaves the old chain current and every poll correct; after it,
    // the new generation is open and empty.
    setGenerations(topic, ((kept ++ tombs).sortBy(_.version)) :+ next)
    next
  } } } }

  /** True when `group` has unconsumed records anywhere in the live
    * lineage (committed-or-start-policy position below the watermark in
    * any generation). Metadata-only: two small offset maps per
    * generation.
    */
  private def groupHasLag(group: String, topic: String, chain: Seq[Generation]): Boolean =
    chain.exists { g =>
      val high = producerOffsetsFor(topic, g)
      val committed = readOffsets(groupMeta, s"${scopeDir(group)}/${scopeDir(topic)}/v${g.version}")
      (0 until partsOf(g)).exists { p =>
        committed.getOrElse(p, startingOffset(group, topic, p, g)) < high.getOrElse(p, 0L)
      }
    }

  /** Remove any data, watermarks, and caches lingering under a
    * not-yet-live generation, so a rescale opens v+1 genuinely EMPTY.
    * Nothing writes ahead of the flip in the metadata-only design, but a
    * crashed PRE-LINEAGE copying rescale (or any stray partial state)
    * may have left v+1 dirs behind — chaining them as live data would
    * duplicate every partially-copied record.
    */
  private def clearGenerationData(topic: String, g: Generation): Unit = {
    import org.apache.hadoop.fs.Path
    val topicPath = hpath(s"$dataDir/topic=${escapeDir(topic)}")
    val fs = hfs(topicPath.toString)
    if (fs.exists(topicPath)) {
      fs.listStatus(topicPath).filter(_.isDirectory).foreach { tokenDir =>
        fs.listStatus(tokenDir.getPath).filter(_.isDirectory).foreach { rangeDir =>
          val verPath = new Path(rangeDir.getPath, s"version=${g.version}")
          if (fs.exists(verPath) && !fs.delete(verPath, true))
            throw new java.io.IOException(s"rescale: could not clear $verPath")
        }
      }
    }
    val scope = producerScopeFor(topic, g)
    val metaPath = s"$producerMeta/$scope"
    if (pathExists(metaPath) && !hfs(metaPath).delete(hpath(metaPath), true))
      throw new java.io.IOException(s"rescale: could not clear $metaPath")
    offsetCache.remove(metaCacheKey(metaPath))
    reconciled.remove(lockRootKey + "|" + scope)
    ()
  }

  /** Groups with committed offset state under ANY generation of the
    * topic's live chain (a `_meta/group_offsets` scope dir exists for
    * it). Groups that registered but never committed are invisible here
    * — the documented limitation of the drain checks.
    */
  private def knownGroups(topic: String, chain: Seq[Generation]): Seq[String] = {
    if (!pathExists(groupMeta)) return Seq.empty
    val fs = hfs(groupMeta)
    // dir names are scopeDir-encoded; return the DECODED group names so
    // callers can use them as registry keys and re-encode for paths
    fs.listStatus(hpath(groupMeta)).filter(_.isDirectory).toSeq
      .map(_.getPath.getName)
      .filter(enc => chain.exists(g => fs.exists(new org.apache.hadoop.fs.Path(
        s"$groupMeta/$enc/${scopeDir(topic)}/v${g.version}"))))
      .map(unescapeDir)
  }

  /** Reclaim DRAINED ancestor generations of a topic: ancestors whose
    * records every known group (committed state under the live lineage)
    * has fully consumed are deleted and removed from the chain — the
    * reference deletes old-generation segment dirs after consumers
    * drain (`datalog_cleaner.go`). Only a contiguous PREFIX of the chain
    * is reclaimed (consumers drain in chain order, so an undrained
    * generation fences everything after it). With no known groups, all
    * ancestors are reclaimable — the admin asserts nobody is consuming
    * (groups that never committed, and streaming readers, are invisible
    * to this check; their reads of a swept generation fail loudly).
    * Version dirs NOT in the live chain at all — pre-lineage rewrite
    * leftovers and crashed-future dirs — are reclaimed unconditionally:
    * nothing addresses them. Rescale preserves record timestamps, so
    * time-based retention cannot distinguish generations; this sweep is
    * the generation-aware companion. Maintenance path (write lock): a
    * poll serving an ancestor must never race the delete. Returns
    * deleted file count.
    */
  def sweepStaleGenerations(topic: String, requireGroups: Boolean = false): Int =
    withTopicMaintenance(topic) {
    val chain = generations(topic)
    val groups = knownGroups(topic, chain)
    // the "no known groups -> reclaim ALL ancestors" branch is an ADMIN
    // assertion (nobody is consuming); the background sweeper has no
    // admin asserting, so its cadence passes requireGroups = true and a
    // group-less topic keeps its ancestors until a human calls this
    if (requireGroups && groups.isEmpty) return 0
    val reclaimable = chain.init.takeWhile { g =>
      groups.forall { gr =>
        val high = producerOffsetsFor(topic, g)
        val committed = readOffsets(groupMeta, s"${scopeDir(gr)}/${scopeDir(topic)}/v${g.version}")
        (0 until partsOf(g)).forall { p =>
          committed.getOrElse(p, startingOffset(gr, topic, p, g)) >= high.getOrElse(p, 0L)
        }
      }
    }
    val keep = chain.drop(reclaimable.size)
    // tombstone swept generations whose watermarks say they never held a
    // record (see `droppedEmptyVersions`) — decided BEFORE any deletion,
    // while the watermark meta is still authoritative; a generation that
    // HAD records is swept without one, so a stream checkpoint parked
    // there fails loudly instead of silently skipping its data
    val neverProduced = reclaimable.filter(g => producerOffsetsFor(topic, g).isEmpty)
    val keepNames = keep.map(g => s"version=${g.version}").toSet
    // partitionBy escapes special characters in partition-value dir names,
    // so addressing a topic dir must escape the same way (NOT the _meta
    // scopeDir encoding)
    val topicPath = hpath(s"$dataDir/topic=${escapeDir(topic)}")
    val fs = hfs(topicPath.toString)
    var deleted = 0
    if (fs.exists(topicPath)) {
      fs.listStatus(topicPath).filter(_.isDirectory).foreach { tokenDir =>
        fs.listStatus(tokenDir.getPath).filter(_.isDirectory).foreach { rangeDir =>
          fs.listStatus(rangeDir.getPath).filter(_.isDirectory).foreach { verDir =>
            val name = verDir.getPath.getName
            if (name.startsWith("version=") && !keepNames.contains(name)) {
              val it = fs.listFiles(verDir.getPath, true)
              while (it.hasNext) { it.next(); deleted += 1 }
              fs.delete(verDir.getPath, true)
              ()
            }
          }
        }
      }
    }
    // the chain truncation is durable AFTER the deletes: a crash between
    // them leaves a swept generation still chained, whose polls read an
    // empty dir (no lag) — harmless; the next sweep re-truncates.
    if (reclaimable.nonEmpty) {
      val tombs = (genRows(topic).filter(_.clusterSize == 0) ++
        neverProduced.map(g => Generation(g.version, 0))).sortBy(_.version).takeRight(64)
      setGenerations(topic, (tombs ++ keep).sortBy(_.version))
      // drop the swept generations' watermark scopes + caches AND the
      // groups' committed scopes under them (all unreachable once the
      // chain no longer lists the generation; leaving them would leak
      // one tiny dir per swept generation per group)
      reclaimable.foreach { g =>
        val scope = producerScopeFor(topic, g)
        val metaPath = s"$producerMeta/$scope"
        if (pathExists(metaPath)) { hfs(metaPath).delete(hpath(metaPath), true); () }
        offsetCache.remove(metaCacheKey(metaPath))
        reconciled.remove(lockRootKey + "|" + scope)
        groups.foreach { gr =>
          val gScope = s"${scopeDir(gr)}/${scopeDir(topic)}/v${g.version}"
          val gPath = s"$groupMeta/$gScope"
          if (pathExists(gPath)) { hfs(gPath).delete(hpath(gPath), true); () }
          offsetCache.remove(metaCacheKey(gPath))
        }
        ()
      }
    }
    deleted
  }

  /** Maintenance observability (the C10 companion of the sweeper): a
    * persistently failing sweep was invisible (the loop retries next
    * tick), and lineage chain depth is the cost every poll's chain walk
    * pays. Counters are per store INSTANCE — the instance that runs
    * `startRetentionSweeper` is the serving store whose `/metrics`
    * endpoint exports them.
    */
  val maintenanceStats = new MaintenanceStats

  /** Background retention: sweep every topic on a fixed cadence — the
    * reference's datalog cleaner loop (5-min cadence, 168 h default
    * retention; `internal/data/datalog_cleaner.go:16-100`,
    * `internal/conf/config.go:291-302`). Returns a handle; `close()` stops
    * the sweeper. Maintenance path: must not run concurrently with a
    * rescale of the same topic.
    */
  /** Every topic in the store with its current generation — the data-side
    * discovery listing next to `/v1/brokers`' cluster listing: (topic,
    * generation version, ring size). Metadata-sized (one row per topic);
    * topics come from the data layout's `topic=` dirs (partitionBy
    * escaping round-trips the exact name; the generations meta dir is a
    * lossy sanitized key, so it is NOT a name source). Topics are
    * implicit/auto-created in the reference (`topics.go:30-36` — `Exists`
    * is always true), so this lists what HAS data, not what is allowed.
    */
  def listTopics(): Seq[(String, Int, Int)] = {
    if (!pathExists(dataDir)) return Seq.empty
    hfs(dataDir).listStatus(hpath(dataDir)).filter(_.isDirectory)
      .map(_.getPath.getName).toSeq
      .filter(_.startsWith("topic="))
      .map(n => unescapeDir(n.stripPrefix("topic=")))
      .sorted
      .map { t =>
        val g = generation(t)
        (t, g.version, g.clusterSize)
      }
  }

  def startRetentionSweeper(
      intervalMs: Long = 5 * 60 * 1000L,
      retentionMs: Long = 168L * 3600 * 1000L): AutoCloseable = {
    val exec = java.util.concurrent.Executors.newSingleThreadScheduledExecutor(r => {
      val t = new Thread(r, "graft-retention"); t.setDaemon(true); t
    })
    exec.scheduleWithFixedDelay(() => {
      // failures are COUNTED, never silently eaten: the sweeper retries
      // next tick either way, but a persistently failing sweep (e.g. a
      // permissions change) is now visible on /metrics
      var maxDepth = 0L
      try {
        // the sweeper mutates (stage deletes, compaction, reclaim): a
        // NON-owner's sweeper is rejected loudly here like every other
        // mutating path, instead of deleting _stage dirs under the
        // owner's feet — the rejection lands in sweepFailures below
        ensurePlaneOwnedRoot()
        sweepStages() // orphaned concurrent-produce staging (age-gated)
        if (pathExists(dataDir)) {
          hfs(dataDir).listStatus(hpath(dataDir)).filter(_.isDirectory).foreach { dir =>
            val name = dir.getPath.getName
            if (name.startsWith("topic=")) {
              val topic = unescapeDir(name.stripPrefix("topic="))
              try {
                val cutoff = new java.sql.Timestamp(System.currentTimeMillis() - retentionMs)
                retentionSweep(topic, cutoff)
                // fold small segment files on the same cadence: the
                // serving coalescers write one file per touched partition
                // per flush (the reference rotates 1 GiB segments in
                // place — parquet cannot append), so without background
                // compaction the FILE COUNT, not the byte count, becomes
                // the scan bottleneck. Driver-side k-way merge — cheap.
                compact(topic)
                // reclaim drained-ancestor generations on the same
                // cadence (the reference's datalog cleaner deletes old-
                // generation dirs once consumers move past them) —
                // group-gated here: without a committed group attesting
                // the drain, the cadence must not take the admin-only
                // reclaim-all branch (a streaming reader with no group
                // would lose its history silently)
                val reclaimed = sweepStaleGenerations(topic, requireGroups = true)
                maintenanceStats.staleFilesReclaimed.addAndGet(reclaimed.toLong)
                maxDepth = math.max(maxDepth, generations(topic).size.toLong)
                ()
              } catch { case _: InterruptedException => throw new InterruptedException
                case _: Throwable =>
                  maintenanceStats.sweepFailures.incrementAndGet(); () }
            }
          }
        }
        maintenanceStats.chainDepth.set(maxDepth)
      } catch { case _: InterruptedException => ()
        case _: Throwable =>
          maintenanceStats.sweepFailures.incrementAndGet(); () } // next tick
    }, intervalMs, intervalMs, java.util.concurrent.TimeUnit.MILLISECONDS)
    () => { exec.shutdownNow(); () }
  }

  // --------------------------------------------------------- meta tables

  // write-through cache so per-produce/poll offset lookups are
  // memory-speed; the parquet table remains the durable copy a fresh
  // store recovers from. JVM-global (see genCache) so every producing
  // instance over one root shares a single coherent watermark view.
  private def offsetCache = TopicStore.globalOffsetCache

  /** Drop this instance's cached watermark + generation state for a
    * topic, so the next read observes offsets advanced by ANOTHER store
    * instance over the same root. The single-writer assumption behind the
    * write-through cache does not hold for read-side observers — the
    * DSv2 streaming source calls this before each `latestOffset()` poll.
    */
  def refreshOffsets(topic: String): Unit = {
    offsetCache.keySet.removeIf(_.startsWith(metaCacheKey(s"$producerMeta/${scopeDir(topic)}/")))
    genCache.remove(genCacheKey(topic))
    ()
  }

  /** Drop the cached group-offset views for one (group, topic) across
    * its generation scopes — a range-scoped consumer member calls this
    * per poll: other members' commits advance in their own lanes.
    */
  private def refreshGroupOffsets(group: String, topic: String): Unit = {
    offsetCache.keySet.removeIf(
      _.startsWith(metaCacheKey(s"$groupMeta/${scopeDir(group)}/${scopeDir(topic)}/")))
    ()
  }

  /** Persisted high watermark WITHOUT the crash-heal reconcile — the
    * read-side view for observers (the DSv2 source): an observer must
    * never WRITE to `_meta` (the heal's writeOffsets would race the
    * owning producer's swap with no cross-instance lock) and must not
    * surface in-flight or orphaned records ahead of their watermark
    * commit. Orphans from a produce crash become visible when the next
    * produce on the owning store heals them — the at-least-once window
    * the engine already documents.
    */
  def persistedProducerOffsets(topic: String): Map[Int, Long] =
    readOffsets(producerMeta, producerScope(topic))

  /** Persisted high watermark under an explicit generation version — the
    * read-side view of an ANCESTOR generation (frozen after the flip:
    * produce only writes the current generation). The DSv2 streaming
    * source drains ancestors against exactly this map.
    */
  def persistedProducerOffsets(topic: String, version: Int): Map[Int, Long] =
    readOffsets(producerMeta, s"${scopeDir(topic)}/v$version")

  /** Healing high watermark under an explicit LIVE generation version
    * (owner-side lineage observability: the lag TVF enumerates every
    * live generation's ring).
    */
  def producerOffsets(topic: String, version: Int): Map[Int, Long] =
    generations(topic).find(_.version == version) match {
      case Some(g) => producerOffsetsFor(topic, g)
      case None => Map.empty
    }

  // The offsets tables are <= ring-size rows of driver metadata; running a
  // Spark job to read/write them (the old toDF.write / spark.read path)
  // put a whole job-scheduling round trip into EVERY produce ack and every
  // streaming micro-batch — the serving path's fixed overhead. They are
  // instead written with parquet-hadoop directly on the driver (same
  // format, same layout: a directory with one visible part file, so stores
  // written by either path stay mutually readable). The reference keeps
  // this state driver-local too (SQLite, `internal/localdb/queries.go`).
  private val offsetsSchema =
    org.apache.parquet.schema.MessageTypeParser.parseMessageType(
      "message offsets { required int32 part; required int64 next; }")

  private def readOffsets(dir: String, scope: String): Map[Int, Long] = {
    import org.apache.hadoop.fs.Path
    val p = s"$dir/$scope" // scope components are pre-encoded (scopeDir)
    def readTable(statuses: Seq[org.apache.hadoop.fs.FileStatus]): Map[Int, Long] = {
      val files = statuses.filter(st => st.isFile &&
          st.getPath.getName.endsWith(".parquet") &&
          !st.getPath.getName.startsWith(".") && !st.getPath.getName.startsWith("_"))
        .map(_.getPath)
      val m = Map.newBuilder[Int, Long]
      // the newest file ONLY: a rename-first swap in flight leaves the
      // old table visible beside the new one, and merging the two
      // would resurrect stale positions for parts the new table moved
      files.sortBy(_.getName).lastOption.foreach { f =>
        val r = TopicStore.groupReader(f, spark.sparkContext.hadoopConfiguration).build()
        try {
          var g = r.read()
          while (g != null) {
            m += (g.getInteger("part", 0) -> g.getLong("next", 0))
            g = r.read()
          }
        } finally r.close()
      }
      m.result()
    }
    def readOnce(): Map[Int, Long] =
      if (!pathExists(p)) Map.empty
      else {
        val fs = hfs(p)
        val statuses = fs.listStatus(hpath(p)).toSeq
        val base = readTable(statuses)
        // partition-scoped writers keep their watermarks in LANE
        // sub-tables (one per claim — writeProducerOffsets); the merged
        // view takes the per-partition MAX across base + lanes: lanes
        // hold disjoint partition sets while live, and a stale lane left
        // behind after a root-mode fold only ever carries values the
        // folded base already contains. GROUP-OFFSET scopes gain lanes
        // too (range-scoped consumer members, writeGroupOffsets) with the
        // same max-merge semantics — group commits are monotonic per
        // partition; the stream ledger and registry never have lanes.
        statuses.filter(st => st.isDirectory && st.getPath.getName.startsWith("lane-"))
          .foldLeft(base) { (acc, laneDir) =>
            val lane = readTable(fs.listStatus(laneDir.getPath).toSeq)
            lane.foldLeft(acc) { case (a, (part, next)) =>
              if (next > a.getOrElse(part, Long.MinValue)) a + (part -> next) else a
            }
          }
      }
    offsetCache.computeIfAbsent(metaCacheKey(p), _ => {
      // a concurrent writer's swap (rename new in, delete old) can still
      // yank a just-listed OLD file from under a READ-SIDE observer (the
      // DSv2 source polling another instance's store) between the list
      // and the open: retry the list+read — the swap window is
      // milliseconds and the table is ring-size rows
      var res: Either[Throwable, Map[Int, Long]] =
        try Right(readOnce()) catch { case TopicStore.Vanished(e) => Left(e) }
      var i = 0
      while (res.isLeft && i < 5) {
        Thread.sleep(50)
        res = try Right(readOnce()) catch { case TopicStore.Vanished(e) => Left(e) }
        i += 1
      }
      res.fold(throw _, identity)
    })
  }

  /** Swap-write a tiny driver-side parquet table: dot-prefixed while
    * being written (Spark and the group readers both skip hidden files),
    * then swap — rename the new table visible FIRST, then delete the old
    * files. A crash leaves the old state alone, or both tables visible
    * (readers take the lexically-newest; the next swap folds the rest).
    * Loud failure on either swap step: proceeding past a failed rename
    * would leave the old state silently current after a "successful"
    * write, past a failed delete an ever-growing dir.
    */
  private def swapWriteGroups(
      p: String,
      schema: org.apache.parquet.schema.MessageType,
      rows: Seq[org.apache.parquet.example.data.Group],
      fence: PlaneLease.Authority = PlaneLease.RootAuthority): Unit = {
    import org.apache.hadoop.fs.Path
    import org.apache.parquet.hadoop.example.ExampleParquetWriter
    val fs = hfs(p)
    val dirPath = hpath(p)
    fs.mkdirs(dirPath)
    // RENAME-FIRST swap: the old delete-then-rename order had a window
    // with NO visible file, which an unlocked cross-instance reader
    // (refreshed DSv2 observer) read as VALID EMPTY state — a default
    // generation chain or empty offsets — and cached. With rename first
    // the window holds TWO visible files instead, and every reader
    // resolves it by taking the lexically-newest name (the zero-padded
    // monotonic stamp below); a crash between rename and delete leaves
    // both files for the NEXT swap's delete pass to fold.
    //
    // The stamp is derived from DURABLE state, not a process clock:
    // max(wall clock, newest visible stamp + 1). System.nanoTime()'s
    // origin is per-JVM/per-boot, so after a crash between rename and
    // delete a successor writer on another host (or after a reboot)
    // could stamp its fresh table lexically OLDER than the stale
    // leftover — readers would then prefer the stale chain/offsets
    // until a delete pass folded it, or forever if that delete throws.
    // Taking the on-disk maximum + 1 keeps lexical order = write order
    // across JVMs and reboots (and absorbs legacy nanoTime-stamped
    // files, whose huge values simply become the floor).
    val newestStamp = fs.listStatus(dirPath).iterator
      .map(_.getPath.getName)
      .filter(n => !n.startsWith(".") && n.startsWith("part-"))
      .flatMap { n =>
        val digits = n.stripPrefix("part-").takeWhile(_.isDigit)
        scala.util.Try(digits.toLong).toOption
      }
      .foldLeft(0L)(math.max)
    val stamp = math.max(System.currentTimeMillis(), newestStamp + 1L)
    // the held lease epoch rides in the name (after the ordering stamp —
    // readers keep taking the lexically-newest, and at equal stamps a
    // higher epoch correctly sorts later): forensics for a takeover, and
    // the per-write fence below makes a stale-epoch commit impossible
    val fin = new Path(dirPath,
      f"part-$stamp%019d-e${PlaneLease.commitEpoch(lockRootKey)}%012d-" +
        s"${java.util.UUID.randomUUID()}.parquet")
    val tmp = new Path(dirPath, s".${fin.getName}.tmp")
    val conf = new org.apache.hadoop.conf.Configuration(spark.sparkContext.hadoopConfiguration)
    // pays writeLocalPartFile's two `chmod` forks per create (see there)
    val w = ExampleParquetWriter.builder(tmp).withConf(conf).withType(schema).build()
    try rows.foreach(w.write) finally w.close()
    // PER-WRITE epoch fence at the commit point (the reference's
    // per-group generation re-check, `coalescer.go:93-106`): a paused
    // process whose lease was taken over is rejected HERE — before the
    // rename makes its stale-authority table visible — not merely at its
    // next heartbeat. `fence` names the authority this table belongs to:
    // producer watermarks carry the touched partitions, group/registry
    // tables the consumer plane, everything else root.
    PlaneLease.assertCurrentAtCommit(lockRootKey, fence)
    if (!fs.rename(tmp, fin))
      throw new java.io.IOException(s"meta swap: rename $tmp -> $fin failed")
    // FILES only: a producer-offsets scope may also hold lane-* DIRS
    // (partition-scoped writers' watermark sub-tables) — those are not
    // part of this swap; writeProducerOffsets folds them deliberately
    fs.listStatus(dirPath).filter(_.isFile).foreach { st =>
      val n = st.getPath.getName
      // fold only files lexically OLDER than ours, and tolerate a
      // concurrent folder having deleted them first: most scopes are
      // single-writer (lease + lock serialized), but the group REGISTRY
      // is written concurrently by RANGE-SCOPED consumer members — the
      // old "delete everything but fin" pass could annihilate a
      // concurrent winner's newer table (each side deleting the other's)
      // and threw when the loser's file was already gone. Readers take
      // the lexically-newest name, so leaving a NEWER file in place is
      // exactly right: our own write is the superseded one.
      if (!n.startsWith(".") && n < fin.getName &&
          !fs.delete(st.getPath, false) && fs.exists(st.getPath))
        throw new java.io.IOException(s"meta swap: could not delete ${st.getPath}")
      // crashed swaps orphan dot-tmp files nothing reads — but a
      // CONCURRENT registry swapper's in-flight tmp is indistinguishable
      // by name, so reclaim only tmps old enough that their writer is
      // certainly gone (best-effort)
      if (n.startsWith(".") && n.endsWith(".tmp") && n != tmp.getName &&
          System.currentTimeMillis() - st.getModificationTime > 10 * 60 * 1000L) {
        fs.delete(st.getPath, false); ()
      }
    }
  }

  private def writeOffsets(
      dir: String, scope: String, offsets: Map[Int, Long],
      fence: PlaneLease.Authority = PlaneLease.RootAuthority): Unit = {
    import org.apache.parquet.example.data.simple.SimpleGroupFactory
    val p = s"$dir/$scope" // scope components are pre-encoded (scopeDir)
    val gf = new SimpleGroupFactory(offsetsSchema)
    swapWriteGroups(p, offsetsSchema,
      offsets.toSeq.sortBy(_._1).map { case (part, next) =>
        gf.newGroup().append("part", part).append("next", next)
      }, fence)
    offsetCache.put(metaCacheKey(p), offsets)
    ()
  }

  // producer-watermark scopes known lane-free by this root-lease holder:
  // once the fold below ran (or found nothing), no lane can appear while
  // we hold the root lease (partition claimants abort on a live root
  // lease), so the per-write lane listing is paid once per scope
  private val laneFreeScopes = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  // lane-view cache key: shares the topic's scope prefix so topic-level
  // cache invalidation sweeps it too; the '#view' suffix keeps it off any
  // real path's key
  private def ownedViewKey(
      scope: String, owned: scala.collection.immutable.SortedSet[Int]): String =
    metaCacheKey(s"$producerMeta/$scope/lane-${PlaneLease.specOf(owned)}#view")

  /** The OWNED partitions' current watermarks on a partition-scoped
    * process — this process's own authority, cached (writeProducerOffsets
    * maintains it), so the produce hot path pays no per-flush storage
    * re-read; the first touch seeds it from the merged view.
    */
  private def ownedWatermarkView(
      scope: String, owned: scala.collection.immutable.SortedSet[Int]): Map[Int, Long] = {
    val k = ownedViewKey(scope, owned)
    val cur = offsetCache.get(k)
    if (cur != null) cur
    else {
      val v = readOffsets(producerMeta, scope).filter(kv => owned.contains(kv._1))
      Option(offsetCache.putIfAbsent(k, v)).getOrElse(v)
    }
  }

  /** The watermark view a produce's merge-RMW starts from: the cached
    * owned slice on a partition-scoped process (non-owned partitions are
    * filtered out of its lane write anyway), the cached merged view
    * elsewhere.
    */
  private def producerWatermarksForUpdate(scope: String): Map[Int, Long] =
    planeLeasePartitions match {
      case Some(owned) => ownedWatermarkView(scope, owned)
      case None => readOffsets(producerMeta, scope)
    }

  /** Route a producer-watermark write by lease mode. A root-lease holder
    * swaps the scope's single table (and folds any leftover lane tables
    * from a previous partition-scoped deployment into it — their values
    * are contained in the merged view being written). A PARTITION-scoped
    * holder swaps only its own claim's LANE sub-table
    * (`<scope>/lane-<spec>`), restricted to the partitions it owns — so
    * disjoint-partition writer processes never read-modify-write one
    * shared file; readers merge base + lanes with per-partition max
    * (readOffsets). `full` is the merged view the JVM-global cache keeps;
    * `touched` are the partitions this write advances (the per-write
    * fence scope).
    */
  private def writeProducerOffsets(
      scope: String, full: Map[Int, Long], touched: Set[Int]): Unit =
    planeLeasePartitions match {
      case Some(owned) =>
        val stray = touched.filterNot(owned.contains)
        require(stray.isEmpty,
          s"partition-scoped watermark write touches unowned partitions $stray")
        import org.apache.parquet.example.data.simple.SimpleGroupFactory
        val lane = s"$producerMeta/$scope/lane-${PlaneLease.specOf(owned)}"
        val gf = new SimpleGroupFactory(offsetsSchema)
        swapWriteGroups(lane, offsetsSchema,
          full.filter(kv => owned.contains(kv._1)).toSeq.sortBy(_._1).map {
            case (part, next) =>
              gf.newGroup().append("part", part).append("next", next)
          }, PlaneLease.ProduceAuthority(touched))
        // cache the OWNED slice under the lane-view key (only this
        // process advances it — always fresh) and INVALIDATE the merged
        // scope view rather than caching `full`: other claimants' lanes
        // advance in other processes, so a cached merge would go
        // permanently stale for every non-owned partition (poll and
        // persistedProducerOffsets on this member would never see them
        // move). Observer reads re-merge base + lanes from storage; the
        // produce hot path reads the owned slice from the lane view.
        offsetCache.put(ownedViewKey(scope, owned),
          full.filter(kv => owned.contains(kv._1)))
        offsetCache.remove(metaCacheKey(s"$producerMeta/$scope"))
        ()
      case None =>
        writeOffsets(producerMeta, scope, full, PlaneLease.ProduceAuthority(touched))
        if (!laneFreeScopes.contains(scope)) {
          val fs = hfs(s"$producerMeta/$scope")
          val dirPath = hpath(s"$producerMeta/$scope")
          fs.listStatus(dirPath)
            .filter(st => st.isDirectory && st.getPath.getName.startsWith("lane-"))
            .foreach { st =>
              if (!fs.delete(st.getPath, true))
                throw new java.io.IOException(
                  s"watermark lane fold: could not delete ${st.getPath}")
            }
          laneFreeScopes.add(scope)
          ()
        }
    }

  /** Encode ONE raw scope component (a topic, group, or stream id) as a
    * `_meta` directory segment — the SAME injective Hive path escaping
    * `partitionBy` applies to the data layout's `topic=` dirs. The old
    * lossy `[^A-Za-z0-9_/-] -> '_'` sanitizer collided distinct names
    * ("a.b" and "a_b") onto one shared watermark/offsets/generation
    * scope while their data dirs stayed distinct — breaking §2.6.3
    * contiguity for both topics and cross-wiring group commits.
    * Composite scopes are built from ENCODED components joined by '/'
    * ('/' itself is escaped inside a component, so a name containing a
    * slash cannot forge another group's composite scope);
    * readOffsets/writeOffsets take the composite verbatim.
    */
  private def scopeDir(scope: String): String = escapeDir(scope)
}

object TopicStore {
  /** One driver-resident record for [[TopicStore.produceLocal]]: the
    * envelope a serving coalescer holds in hand — `key` null for keyless,
    * `seq` the request-order tiebreak (the `__seq` column's twin).
    */
  final case class LocalRecord(key: String, value: Array[Byte], tsMicros: Long, seq: Long)

  /** Parse a partition-lease spec — dash ranges and/or comma/underscore
    * separated ring ordinals ("0-5", "0-3,8,10-11") — into a sorted set.
    * Loud on anything malformed: a silently-misparsed claim would write
    * to partitions another process owns.
    */
  def parsePartitionSpec(spec: String): scala.collection.immutable.SortedSet[Int] = {
    val parts = scala.collection.immutable.SortedSet.newBuilder[Int]
    spec.split("[,_]").map(_.trim).filter(_.nonEmpty).foreach { tok =>
      tok.split("-") match {
        case Array(a) => parts += parseOrdinal(a, spec)
        case Array(a, b) =>
          val (lo, hi) = (parseOrdinal(a, spec), parseOrdinal(b, spec))
          require(lo <= hi, s"inverted range '$tok' in partition spec '$spec'")
          (lo to hi).foreach(parts += _)
        case _ => throw new IllegalArgumentException(
          s"malformed token '$tok' in partition spec '$spec'")
      }
    }
    val set = parts.result()
    require(set.nonEmpty, s"empty partition spec '$spec'")
    set
  }

  private def parseOrdinal(s: String, spec: String): Int =
    s.trim.toIntOption.filter(_ >= 0).getOrElse(
      throw new IllegalArgumentException(
        s"ring partition ordinal '$s' in spec '$spec' is not a non-negative int"))

  // JVM-global maintenance/read and produce locks, keyed by normalized
  // root (+ topic for the RW lock): every TopicStore instance over the
  // same root — the serving store, the DSv2 observer's/writer's private
  // instance, a test's second store — shares one lock, so maintenance
  // swaps exclude ALL same-JVM readers and produces serialize with
  // rescale's copy-then-flip across instances. The maps are append-only;
  // their cardinality is (roots × topics) touched over the JVM's life —
  // operationally small (an entry is one lock object), so these two stay
  // strongly held; the higher-churn scoped-lock table below is
  // weak-valued instead.
  // (Cross-JVM coordination: these locks serialize THREADS of one
  // process; the cross-PROCESS single-writer guarantee is the epoch-
  // fenced plane lease — graft.engine.PlaneLease, asserted by every
  // mutating path via ensurePlaneOwned — so a second JVM opening the
  // produce plane on a leased root fails loudly instead of racing the
  // watermark. Read-only observers need no lease.)
  private val globalTopicLocks = new java.util.concurrent.ConcurrentHashMap[
    (String, String), java.util.concurrent.locks.ReentrantReadWriteLock]()
  private val globalProduceLocks =
    new java.util.concurrent.ConcurrentHashMap[String, Object]()
  // the horizontal produce plane (see the class-side producePlane
  // comment): shared by produceConcurrent, exclusive for everything that
  // needs the single-writer view — strongly held like the produce locks
  private val globalProducePlanes = new java.util.concurrent.ConcurrentHashMap[
    String, java.util.concurrent.locks.ReentrantReadWriteLock]()
  // fine-grained RMW locks (commit read-modify-write, reconcile heal),
  // keyed by qualified root + operation scope: group-offset state and the
  // reconcile ledger are JVM-global per root, so their serialization must
  // be too — two instances over one root (the DSv2 writer/observer
  // pattern) would otherwise interleave read-modify-writes and lose a
  // commit's partitions or double-run the heal's delete-then-rename swap.
  // Values are WEAK so churning ephemeral groups/topics (test suites,
  // short-lived consumer groups) can't grow the table without bound: a
  // monitor some thread holds or waits on is strongly reachable from that
  // thread's stack, so collection only ever reclaims locks nobody is
  // using — the remove(key, ref)+retry loop then re-interns race-free
  // (remove is value-conditional, so a fresh winner is never evicted)
  private val globalScopedLocks = new java.util.concurrent.ConcurrentHashMap[
    String, java.lang.ref.WeakReference[Object]]()

  private[graft] def scopedLockFor(key: String): Object = {
    var o: Object = null
    while (o == null) {
      val ref = globalScopedLocks.computeIfAbsent(
        key, _ => new java.lang.ref.WeakReference(new Object))
      o = ref.get()
      if (o == null) globalScopedLocks.remove(key, ref)
    }
    // dead-entry stubs (cleared ref + string key) still accumulate until
    // their key is re-touched; sweep them once the table grows past any
    // plausible live-scope count. The remove must be VALUE-conditional
    // (remove(key, ref)), like the re-intern loop above: the iterator's
    // it.remove() deletes the key unconditionally, so a thread
    // re-interning a fresh monitor between this sweep's get() and the
    // removal would have its LIVE lock evicted — the next caller would
    // intern a different monitor and two threads would enter the same
    // commit/reconcile critical section concurrently.
    if (globalScopedLocks.size() > 4096) {
      val it = globalScopedLocks.entrySet().iterator()
      while (it.hasNext) {
        val e = it.next()
        if (e.getValue.get() == null) {
          globalScopedLocks.remove(e.getKey, e.getValue)
          ()
        }
      }
    }
    o
  }

  /** Root key through the root's FileSystem: "/x/y", "file:///x/y", and
    * "/x/y/" all qualify to one URI, so scheme-variant spellings of the
    * same directory cannot key independent locks.
    */
  private[graft] def normalizeRoot(
      root: String, conf: org.apache.hadoop.conf.Configuration): String = {
    val p = new org.apache.hadoop.fs.Path(root)
    p.getFileSystem(conf).makeQualified(p).toUri.toString
  }

  private[graft] def lockForKey(rootKey: String, topic: String) =
    globalTopicLocks.computeIfAbsent(
      (rootKey, topic),
      _ => new java.util.concurrent.locks.ReentrantReadWriteLock())

  private[graft] def produceLockFor(rootKey: String): Object =
    globalProduceLocks.computeIfAbsent(rootKey, _ => new Object)

  private[graft] def producePlaneFor(
      rootKey: String): java.util.concurrent.locks.ReentrantReadWriteLock =
    globalProducePlanes.computeIfAbsent(
      rootKey, _ => new java.util.concurrent.locks.ReentrantReadWriteLock())

  /** A file that vanished under a reader — a concurrent `_meta` swap
    * deleted it after the listing. Hadoop's stat and open report that as
    * FileNotFoundException; parquet's vectored row-group read reopens the
    * path through NIO and reports NoSuchFileException.
    */
  private[graft] object Vanished {
    def unapply(e: Throwable): Option[java.io.IOException] = e match {
      case f: java.io.FileNotFoundException => Some(f)
      case f: java.nio.file.NoSuchFileException => Some(f)
      case _ => None
    }
  }

  /** A parquet `Group` reader of one file, configured wholly by `conf`:
    * the file system the path resolves to, the read schema
    * (`ReadSupport.PARQUET_READ_SCHEMA`) and the read options. Add a
    * filter with `.withFilter`, never `.withConf` — that rebuilds the
    * options from the null path of this constructor.
    * The static `ParquetReader.builder` factory starts from a fresh
    * `new Configuration()` instead, and its first read re-parses
    * Hadoop's default XML resources on every open — ~9 ms of CPU against
    * ~0.5 ms for this open plus a 64-row read (4-core host), paid on the
    * pool the bounded poll shares with `produceLocal`.
    */
  private[graft] def groupReader(
      path: org.apache.hadoop.fs.Path, conf: org.apache.hadoop.conf.Configuration)
      : org.apache.parquet.hadoop.ParquetReader.Builder[org.apache.parquet.example.data.Group] = {
    import org.apache.parquet.example.data.Group
    new org.apache.parquet.hadoop.ParquetReader.Builder[Group](
        org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(path, conf),
        new org.apache.parquet.conf.HadoopParquetConfiguration(conf)) {
      override protected def getReadSupport(): org.apache.parquet.hadoop.api.ReadSupport[Group] =
        new org.apache.parquet.hadoop.example.GroupReadSupport()
    }
  }

  // per-(file, int64 column) footer-stat cache for the driver-side
  // maintenance/serving paths: (min, max) across a file's row groups,
  // keyed by path#column and guarded by length — data files are
  // immutable once visible (compact/purge REPLACE files under fresh
  // names), so one footer read serves every subsequent consult. The
  // bounded poll prunes on `offset`, the retention sweep expires on
  // `timestamp`.
  private val colStatsCache =
    new java.util.concurrent.ConcurrentHashMap[String, (Long, Long, Long)]()

  /** Cached [min, max] of an int64 column of a data file; None when any
    * row group lacks stats (callers then read the file / keep it —
    * never skip or expire blind).
    */
  private[engine] def int64StatsOf(
      st: org.apache.hadoop.fs.FileStatus,
      conf: org.apache.hadoop.conf.Configuration,
      column: String): Option[(Long, Long)] = {
    val key = st.getPath.toString + "#" + column
    val cached = colStatsCache.get(key)
    if (cached != null && cached._1 == st.getLen) return Some((cached._2, cached._3))
    // bound the table: file churn (compaction/purge replacing files,
    // short-lived test stores) strands entries for deleted paths that no
    // listing will ever consult again — reset past any plausible live
    // file count rather than leak; misses just re-read a footer
    if (colStatsCache.size() > 65536) colStatsCache.clear()
    val computed =
      try {
        val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromStatus(st, conf)
        val rd = org.apache.parquet.hadoop.ParquetFileReader.open(
          in, org.apache.parquet.HadoopReadOptions.builder(conf).build())
        try {
          import scala.jdk.CollectionConverters._
          var mn = Long.MaxValue
          var mx = Long.MinValue
          var ok = true
          rd.getFooter.getBlocks.asScala.foreach { b =>
            b.getColumns.asScala.find(_.getPath.toDotString == column) match {
              case Some(c) if c.getStatistics != null && c.getStatistics.hasNonNullValue =>
                val s: org.apache.parquet.column.statistics.Statistics[_] = c.getStatistics
                mn = math.min(mn, s.genericGetMin.asInstanceOf[java.lang.Long].longValue())
                mx = math.max(mx, s.genericGetMax.asInstanceOf[java.lang.Long].longValue())
              case _ => ok = false
            }
          }
          if (ok && mn <= mx) Some((mn, mx)) else None
        } finally rd.close()
      } catch {
        // benign: None only forgoes pruning — callers read the file (where a real fault surfaces) or keep it
        case _: java.io.IOException | _: RuntimeException => None
      }
    computed.foreach { case (mn, mx) => colStatsCache.put(key, (st.getLen, mn, mx)) }
    computed
  }

  // shared pool for the local planes' per-partition file IO (bounded,
  // daemon): produceLocal's segment writes and scanPageLocal's page
  // reads multiplex over it — both are IO/compression-bound, so a fixed
  // fan-out is the right shape regardless of broker/consumer count.
  // Pool tasks never resubmit to the pool (callers block, tasks don't),
  // so the fixed size cannot deadlock.
  private[engine] val localWritePool: java.util.concurrent.ExecutorService =
    java.util.concurrent.Executors.newFixedThreadPool(16, r => {
      val t = new Thread(r, "graft-local-produce")
      t.setDaemon(true)
      t
    })

  // _meta write-through caches + the reconcile ledger, shared across all
  // instances over one root (keys carry the normalized root prefix) —
  // see the class-side genCache comment for why per-instance caches
  // corrupted cross-instance offset assignment
  private[engine] val globalGenCache =
    new java.util.concurrent.ConcurrentHashMap[String, Seq[Generation]]()
  private[engine] val globalOffsetCache =
    new java.util.concurrent.ConcurrentHashMap[String, Map[Int, Long]]()
  private[engine] val globalReconciled =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  /** Test aid: drop every shared cache entry for `root`, so the next
    * store over it recovers from disk exactly as a cold JVM would — the
    * restart-simulation tests call this to keep exercising the durable
    * path now that a warm JVM shares caches across instances.
    */
  private[graft] def dropCachesForTests(
      root: String, conf: org.apache.hadoop.conf.Configuration): Unit = {
    val prefix = normalizeRoot(root, conf) + "|"
    globalGenCache.keySet.removeIf(_.startsWith(prefix))
    globalOffsetCache.keySet.removeIf(_.startsWith(prefix))
    globalReconciled.removeIf(_.startsWith(prefix))
    ()
  }

  /** Test/dev aid: the lock a store over `root` would use, resolved with
    * the default Hadoop configuration.
    */
  private[graft] def lockFor(root: String, topic: String) =
    lockForKey(normalizeRoot(root, new org.apache.hadoop.conf.Configuration()), topic)
}

/** A topic generation: the genVersion addressing dimension plus the ring
  * size it was produced under (`internal/types/models.go:250-255` — a
  * generation pins its topology until the next split/join).
  */
case class Generation(version: Int, clusterSize: Int)

/** Per-store maintenance counters (see `TopicStore.maintenanceStats`). */
final class MaintenanceStats {
  /** Sweeper tick bodies that threw (retention, compaction, or stale-
    * generation sweep) — a steadily climbing value means a persistent
    * failure (e.g. a permissions change), not transient contention. */
  val sweepFailures = new java.util.concurrent.atomic.AtomicLong
  /** Data files reclaimed by the cadence stale-generation sweep. */
  val staleFilesReclaimed = new java.util.concurrent.atomic.AtomicLong
  /** Gauge: longest live generation chain across topics at the last
    * completed sweep tick (1 = fully reclaimed lineage). */
  val chainDepth = new java.util.concurrent.atomic.AtomicLong
}
