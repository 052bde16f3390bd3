package graft.serving

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.net.http.HttpRequest.BodyPublishers
import java.nio.charset.StandardCharsets.UTF_8
import java.util.concurrent.{CompletableFuture, ConcurrentHashMap, Executors, TimeUnit}

import scala.collection.immutable.SortedSet

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.logging.log4j.LogManager

import graft.engine.TopicStore

/** One serving member's advertisement in the shared-root member
  * directory: where it listens and which slice of the write plane it
  * claims. `mode` is `root` (owns everything), `parts` (disjoint ring
  * partitions, `parts` set), or `consumer` (registry/group commits only,
  * no produce).
  */
final case class MemberAd(
    base: String,
    binaryPort: Int,
    mode: String,
    parts: Option[SortedSet[Int]],
    mtimeMs: Long,
    ttlMs: Long) {
  def live(nowMs: Long): Boolean = nowMs - mtimeMs < ttlMs
  /** PRODUCE ownership: a consumer member never receives produce
    * forwards, even when range-scoped (its `parts` bound what it SERVES
    * to consumers, not what it writes).
    */
  def ownsPartition(p: Int): Boolean =
    mode == "root" || (mode == "parts" && parts.exists(_.contains(p)))
}

/** The serving deployment's DISCOVERY directory over the shared root —
  * the shared-storage collapse of the reference's gossip-fed topology
  * view that lets a broker forward a produce to the range leader
  * (`internal/discovery/topology_info.go` + `internal/producing/
  * server.go:163-167` `gossiper.SendToLeader`). Each `tools.Serve`
  * member writes ONE advertisement file under `<root>/_meta/_serve/`
  * (host/port/claim, liveness = mtime refreshed on the lease-heartbeat
  * cadence, clean exits delete); peers list the tiny directory — cached
  * for `cacheMs`, so steady-state forwarding costs no FS round-trips —
  * to find the live owner of a ring partition or the consumer-plane
  * member.
  *
  * The directory is ADVISORY, like the reference's topology view: a
  * stale entry only misdirects a forward, which the receiving member's
  * partition lease then rejects loudly at flush — authority always
  * stays with the lease plane ([[graft.engine.PlaneLease]]).
  */
class MemberDirectory(root: String, conf: Configuration, cacheMs: Long = 2000L) {
  private val dir = new Path(new Path(root, "_meta"), "_serve")
  private val fs: FileSystem = dir.getFileSystem(conf)

  @volatile private var cached: (Long, Seq[MemberAd]) = (0L, Seq.empty)

  /** Live members, refreshed from the directory when the cache is older
    * than `cacheMs` (or on `force`).
    */
  def members(force: Boolean = false): Seq[MemberAd] = {
    val now = System.currentTimeMillis()
    val (at, ads) = cached
    if (!force && now - at < cacheMs) ads.filter(_.live(now))
    else {
      val fresh = list()
      cached = (now, fresh)
      fresh.filter(_.live(now))
    }
  }

  /** The live member owning ring partition `p` — retried once with a
    * forced refresh on a cache miss (a member that registered after the
    * last listing). Ties (never expected: the lease plane keeps claims
    * disjoint) break to the freshest advertisement. `excluding` drops
    * members whose `base` already failed this request (the forward's
    * one-retry failover: a crashed member's ad stays live until its TTL,
    * so the retry must not re-pick it).
    */
  def ownerOf(p: Int, excluding: Set[String] = Set.empty): Option[MemberAd] = {
    def fit(ms: Seq[MemberAd]) =
      ms.filter(m => m.ownsPartition(p) && !excluding.contains(m.base))
    pick(fit(members())).orElse(pick(fit(members(force = true))))
  }

  /** The live consumer-plane member (a root-mode member also serves the
    * consumer flow).
    */
  def consumerMember: Option[MemberAd] = consumerMembers.headOption

  /** EVERY live consumer-capable member, freshest first — with
    * range-scoped consumer members a client must subscribe to all of
    * them for full topic coverage, so discovery and the consumer 307
    * both expose the complete set.
    */
  def consumerMembers: Seq[MemberAd] = {
    def fit(ms: Seq[MemberAd]) =
      ms.filter(m => m.mode == "consumer" || m.mode == "root")
    val first = fit(members())
    (if (first.nonEmpty) first else fit(members(force = true)))
      .sortBy(-_.mtimeMs)
  }

  private def pick(ms: Seq[MemberAd]): Option[MemberAd] =
    ms.sortBy(-_.mtimeMs).headOption

  private def list(): Seq[MemberAd] =
    (try fs.listStatus(dir).toSeq
     catch { case _: java.io.FileNotFoundException => Seq.empty })
      .filter(st => st.isFile && st.getPath.getName.startsWith("member-"))
      .flatMap { st =>
        try {
          val in = fs.open(st.getPath)
          val text = try new String(in.readAllBytes(), UTF_8) finally in.close()
          val kv = text.split('\n').iterator.map(_.trim).filter(_.contains('='))
            .map { l => val i = l.indexOf('='); (l.take(i), l.drop(i + 1)) }
            .toMap
          for {
            base <- kv.get("base")
            mode <- kv.get("mode")
          } yield MemberAd(
            base = base,
            binaryPort = kv.get("binaryPort").flatMap(_.toIntOption).getOrElse(0),
            mode = mode,
            parts = kv.get("parts").map(TopicStore.parsePartitionSpec),
            mtimeMs = st.getModificationTime,
            ttlMs = kv.get("ttl").flatMap(_.toLongOption)
              .getOrElse(graft.engine.PlaneLease.DefaultTtlMs))
        } catch { case _: Exception => None } // torn read: skip this listing
      }
}

object MemberDirectory {
  private val log = LogManager.getLogger(classOf[MemberDirectory])

  private lazy val refresher = Executors.newSingleThreadScheduledExecutor(r => {
    val t = new Thread(r, "graft-member-ad")
    t.setDaemon(true)
    t
  })

  // one advertisement per root per process: a member has ONE address and
  // ONE claim, and a second ad would double this process in every peer's
  // routing view (plus leak a refresher task and a shutdown hook per call)
  private val advertised = ConcurrentHashMap.newKeySet[String]()

  /** Refresh ticks that fell back from `setTimes` to rewriting the ad
    * file (connectors where `setTimes` is a no-op/unsupported — S3A) —
    * exported so deployments can see which liveness mechanism is active.
    */
  val adRefreshRewrites = new java.util.concurrent.atomic.AtomicLong

  /** Publish this process's advertisement and keep it live: one file
    * under `<root>/_meta/_serve/`, mtime refreshed at TTL/4, deleted on
    * clean exit so peers stop forwarding here immediately instead of
    * waiting out the TTL. One ad per root per process (second call
    * throws).
    *
    * LIVENESS CONTRACT: the refresh tries `fs.setTimes` first (one tiny
    * metadata op on local FS/HDFS); on UnsupportedOperationException —
    * S3A and most object stores do not support `setTimes`, which would
    * otherwise silently expire a healthy member's ad at TTL — it
    * REWRITES the ad file with identical content (an atomic PUT on
    * object stores; readers tolerate a torn read on filesystems where
    * rewrite is not atomic by skipping that listing) and skips straight
    * to rewriting on later ticks. A TRANSIENT failure (IOException)
    * rewrites this tick only and retries `setTimes` next tick — it must
    * NOT latch a setTimes-capable FS onto the non-atomic rewrite path.
    * Failures of BOTH paths are retried next tick; the TTL judges us.
    * The ad is advisory (authority stays with the lease), which is why a
    * rewrite is acceptable here where the lease path beats a twin.
    */
  def advertise(
      root: String,
      conf: Configuration,
      base: String,
      binaryPort: Int,
      mode: String,
      parts: Option[SortedSet[Int]],
      ttlMs: Long = graft.engine.PlaneLease.DefaultTtlMs): Unit = {
    val dir = new Path(new Path(root, "_meta"), "_serve")
    val fs = dir.getFileSystem(conf)
    val regKey = fs.makeQualified(dir).toString
    require(advertised.add(regKey),
      s"this process already advertises a serving member under $root — " +
        "one member (one address, one claim) per root per process")
    try {
      fs.mkdirs(dir)
      val p = new Path(dir, s"member-${java.util.UUID.randomUUID().toString.take(12)}")
      val content = (Seq(s"base=$base", s"binaryPort=$binaryPort", s"mode=$mode") ++
        parts.map(ps => s"parts=${graft.engine.PlaneLease.specOf(ps)}") ++
        Seq(s"ttl=$ttlMs")).mkString("\n").getBytes(UTF_8)
      // set by the shutdown hook BEFORE it deletes the ad: a refresher
      // tick racing the hook must not rewrite (resurrect) the deleted ad
      // of an exiting process — it would read live until TTL. The flag
      // alone is check-then-act (a tick that passed the check could PUT
      // after the hook's delete), so rewrite and delete also EXCLUDE
      // each other on a monitor: the hook's delete waits out any
      // in-flight PUT and no PUT starts after closed is set.
      val closed = new java.util.concurrent.atomic.AtomicBoolean(false)
      val adLock = new Object
      def rewrite(): Unit = adLock.synchronized {
        if (closed.get()) return
        val out = fs.create(p, true)
        try out.write(content) finally out.close()
      }
      rewrite()
      val setTimesBroken = new java.util.concurrent.atomic.AtomicBoolean(false)
      refresher.scheduleWithFixedDelay(() => {
        try {
          if (closed.get()) ()
          else if (setTimesBroken.get()) { rewrite(); adRefreshRewrites.incrementAndGet(); () }
          else {
            try { fs.setTimes(p, System.currentTimeMillis(), -1) }
            catch {
              case _: UnsupportedOperationException =>
                // capability detected once: later ticks rewrite directly.
                // Latched ONLY on the definitive signal — a transient
                // IOException must not switch a setTimes-capable FS to
                // the non-atomic rewrite (whose torn-read window makes
                // peers drop the ad intermittently); it rewrites THIS
                // tick to keep liveness and retries setTimes next tick
                setTimesBroken.set(true)
                log.warn(
                  s"fs.setTimes unsupported for the member ad at $p — " +
                    "falling back to rewriting the ad file each tick " +
                    "(expected on object-store connectors)")
                rewrite(); adRefreshRewrites.incrementAndGet()
              case _: Exception =>
                rewrite(); adRefreshRewrites.incrementAndGet()
            }
          }
        } catch { case _: Exception => () } // retried next tick; TTL judges us
      }, ttlMs / 4, ttlMs / 4, TimeUnit.MILLISECONDS)
      Runtime.getRuntime.addShutdownHook(new Thread(() => {
        closed.set(true)
        adLock.synchronized {
          try { fs.delete(p, false); () } catch { case _: Exception => () }
        }
      }, "graft-member-ad-release"))
      ()
    } catch {
      // a failed first write must not poison the one-ad-per-process
      // guard: roll the registration back so a caller's retry can land
      case e: Throwable => advertised.remove(regKey); throw e
    }
  }
}

/** RETRYABLE: no live serving member currently advertises ownership of
  * the record's ring partition (the owner crashed, or is restarting) —
  * the REST front answers 503 Retry-After, because a member restart or a
  * lease takeover fixes it without client reconfiguration.
  */
final class NoLiveOwnerException(msg: String) extends IllegalStateException(msg)

/** Broker-to-broker produce forwarding — the reference's
  * `gossiper.SendToLeader` (`internal/producing/server.go:163-167`;
  * receiving side `internal/interbroker/server.go:101`): a member that
  * receives a produce whose key hashes OUTSIDE its partition claim
  * forwards the raw body to the live owning member (discovered via the
  * shared-root [[MemberDirectory]]) and relays the ack, so clients may
  * post to ANY member without implementing ring routing. Records inside
  * the claim take the local coalescer untouched; keyless NDJSON bodies
  * split per line by value hash, exactly like the in-process
  * [[ShardRouter]], and the request acks when every sub-batch is
  * durable.
  *
  * The forward is marked with `X-Graft-Forwarded: 1`; the receiver
  * submits it LOCALLY without re-forwarding (one hop, like the
  * reference), so a stale directory entry fails loudly at the
  * receiver's lease instead of looping.
  *
  * FAILOVER: a transport failure or 5xx from the freshest ad (a member
  * that crashed INSIDE its TTL window — its ad still reads live) retries
  * ONCE against a force-refreshed listing that EXCLUDES the failed
  * member; no refreshed owner → retryable [[NoLiveOwnerException]]. A
  * 503 from the owner is NOT failed over: it is the drain contract (the
  * partition's owner is draining — no other member owns it), relayed as
  * [[graft.engine.PlaneDrainingException]]. One-hop delivery keeps the
  * retry at-least-once, the engine's declared produce semantics — the
  * first attempt may have landed if the connection died mid-response.
  */
class ForwardingChannel(
    store: TopicStore,
    local: ProduceChannel,
    directory: MemberDirectory,
    metrics: Option[EngineMetrics] = None) extends ProduceChannel {

  // ONE HttpClient per process (its connection pool and selector thread
  // are process-level resources), not per channel instance
  private def client = ForwardingChannel.sharedClient

  private def ordinalOf(topic: String, key: String, value: Array[Byte]): Int =
    ShardRouter.ringOrdinal(store, topic, key, value)

  private def ownedLocally(p: Int): Boolean =
    !store.isConsumerPlaneRole &&
      store.configuredPartitionClaim.forall(_.contains(p))

  /** Strip the CompletionException wrapper a failed stage arrives in
    * (null-safe: a successful stage hands `handle` a null throwable).
    */
  private def unwrapCompletion(t: Throwable): Throwable = t match {
    case ce: java.util.concurrent.CompletionException
        if ce.getCause != null => ce.getCause
    case x => x
  }

  override def submit(
      topic: String,
      key: String,
      tsMicros: Long,
      lines: Seq[Array[Byte]]): CompletableFuture[java.lang.Boolean] = {
    if (key != null && key.nonEmpty) {
      val p = ordinalOf(topic, key, null)
      if (ownedLocally(p)) local.submit(topic, key, tsMicros, lines)
      else forward(topic, key, tsMicros, lines, p)
    } else {
      val byPart = lines.groupBy(l => ordinalOf(topic, null, l))
      val subs = byPart.toSeq.map { case (p, ls) =>
        if (ownedLocally(p)) local.submit(topic, key, tsMicros, ls)
        else forward(topic, key, tsMicros, ls, p)
      }
      if (subs.size == 1) subs.head
      else CompletableFuture.allOf(subs: _*).thenApply(_ => java.lang.Boolean.TRUE)
    }
  }

  private def forward(
      topic: String,
      key: String,
      tsMicros: Long,
      lines: Seq[Array[Byte]],
      part: Int): CompletableFuture[java.lang.Boolean] =
    attempt(topic, key, tsMicros, lines, part, excluding = Set.empty,
      retriesLeft = 1)

  private def attempt(
      topic: String,
      key: String,
      tsMicros: Long,
      lines: Seq[Array[Byte]],
      part: Int,
      excluding: Set[String],
      retriesLeft: Int): CompletableFuture[java.lang.Boolean] =
    directory.ownerOf(part, excluding) match {
      case None =>
        CompletableFuture.failedFuture(new NoLiveOwnerException(
          s"no live serving member owns ring partition $part" +
            (if (excluding.nonEmpty)
              s" (excluding the just-failed ${excluding.mkString(", ")})"
            else "") +
            s" — this member's claim is ${claimDesc()}; retry once the owning " +
            "partition member restarts (or a successor claims the range)"))
      case Some(m) =>
        // single-record bodies forward verbatim as JSON (they may contain
        // newlines); multi-line requests only ever come from NDJSON, whose
        // lines are newline-free by construction
        val (body, ctype) =
          if (lines.size == 1) (lines.head, "application/json")
          else {
            val joined = new java.io.ByteArrayOutputStream()
            lines.zipWithIndex.foreach { case (l, i) =>
              if (i > 0) joined.write('\n')
              joined.write(l)
            }
            (joined.toByteArray, "application/x-ndjson")
          }
        val qs = new StringBuilder(s"timestamp=$tsMicros")
        if (key != null && key.nonEmpty)
          qs ++= s"&partitionKey=${java.net.URLEncoder.encode(key, UTF_8)}"
        val uri = URI.create(
          s"${m.base}/v1/topic/${java.net.URLEncoder.encode(topic, UTF_8)}/messages?$qs")
        val req = HttpRequest.newBuilder(uri)
          .POST(BodyPublishers.ofByteArray(body))
          .header("Content-Type", ctype)
          .header(ForwardingChannel.ForwardedHeader, "1")
          .timeout(java.time.Duration.ofSeconds(120))
          .build()
        metrics.foreach(_.producesForwarded.incrementAndGet())
        // handle() first so the transport-vs-status decision is made in
        // ONE place that never wraps the recursive failover call — an
        // exceptionallyCompose around the whole chain would re-catch the
        // retry attempt's own transport failure and fail over twice
        client.sendAsync(req, HttpResponse.BodyHandlers.ofString())
          .handle[(HttpResponse[String], Throwable)]((resp, err) => (resp, err))
          .thenCompose { case (resp, err) =>
            if (err != null) {
              val cause = unwrapCompletion(err)
              cause match {
                case _: java.io.IOException if retriesLeft > 0 =>
                  // transport failure (connection refused/reset/timeout):
                  // the member crashed inside its ad's TTL window — its
                  // ad still reads live, so the refreshed pick must
                  // EXCLUDE it
                  metrics.foreach(_.forwardFailovers.incrementAndGet())
                  attempt(topic, key, tsMicros, lines, part,
                    excluding + m.base, retriesLeft - 1)
                case other =>
                  CompletableFuture.failedFuture[java.lang.Boolean](other)
              }
            }
            else if (resp.statusCode() == 200)
              CompletableFuture.completedFuture(java.lang.Boolean.TRUE)
            else if (resp.statusCode() == 503)
              // relay the RETRYABLE contract: the owner is in a drain
              // window (it answered 503 Retry-After) — surface the same
              // exception type so the origin member's handler answers 503
              // too, instead of downgrading to a fatal 500. Never failed
              // over: the drain says the OWNER is busy, not dead, and no
              // other member owns the partition.
              CompletableFuture.failedFuture[java.lang.Boolean](
                new graft.engine.PlaneDrainingException(
                  s"forwarded produce for ring partition $part: the owning " +
                    s"member ${m.base} is draining — retry: ${resp.body()}"))
            else if (resp.statusCode() >= 500 && retriesLeft > 0) {
              // the advertised owner is broken (a crash leaves the process
              // half-up, a proxy answers 502): one failover against a
              // refreshed listing that excludes it. If NO successor is
              // advertised, the downgrade decision splits by shape: a
              // true 500 is the receiver's own handler answering — a
              // PERSISTENT failure whose diagnosis must reach the client
              // instead of an indefinitely-retryable "no live owner" 503;
              // a gateway 502/504 is a proxy in front of a DYING member
              // whose successor may simply not have advertised yet, so
              // the retryable no-owner contract stands (clients ride out
              // the takeover window exactly as on a transport failure)
              metrics.foreach(_.forwardFailovers.incrementAndGet())
              attempt(topic, key, tsMicros, lines, part,
                excluding + m.base, retriesLeft - 1)
                .handle[(java.lang.Boolean, Throwable)]((ok, e) => (ok, e))
                .thenCompose { case (ok, e) =>
                  unwrapCompletion(e) match {
                    case null => CompletableFuture.completedFuture(ok)
                    case nlo: NoLiveOwnerException
                        if resp.statusCode() == 500 =>
                      val orig = new IllegalStateException(
                        s"forwarded produce for ring partition $part to " +
                          s"${m.base} answered 500: ${resp.body()} (and no " +
                          "successor member is advertised after one failover)")
                      orig.addSuppressed(nlo)
                      CompletableFuture.failedFuture[java.lang.Boolean](orig)
                    case other =>
                      CompletableFuture.failedFuture[java.lang.Boolean](other)
                  }
                }
            } else
              CompletableFuture.failedFuture[java.lang.Boolean](
                new IllegalStateException(
                  s"forwarded produce for ring partition $part to ${m.base} " +
                    s"answered ${resp.statusCode()}: ${resp.body()}"))
          }
    }

  private def claimDesc(): String =
    if (store.isConsumerPlaneRole) "consumer-plane (no produce)"
    else store.configuredPartitionClaim
      .map(ps => s"partitions ${graft.engine.PlaneLease.specOf(ps)}")
      .getOrElse("root")
}

object ForwardingChannel {
  /** Loop guard: a request carrying this header is submitted locally and
    * never re-forwarded — a misdirected forward (stale directory) fails
    * at the receiver's partition lease instead of bouncing between
    * members.
    */
  val ForwardedHeader = "X-Graft-Forwarded"

  /** The process-wide forwarding client: its connection pool and selector
    * thread are shared by every channel instance.
    */
  lazy val sharedClient: HttpClient = HttpClient.newBuilder()
    .connectTimeout(java.time.Duration.ofSeconds(10)).build()
}
