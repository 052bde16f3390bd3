package graft.serving

import java.util.concurrent.CompletableFuture

import graft.core.{Murmur3x64, TokenRing}
import graft.engine.TopicStore

/** Routes produce requests over a broker group's per-broker coalescers by
  * ring partition — the client/broker routing of the reference's
  * horizontal produce plane (clients hash the partition key to the owning
  * broker's token; a broker re-routes what it does not own, S4
  * `internal/producing/server.go:126-190` + the discovery listing
  * `discoverer_client_service.go:30-124`). Broker `i` of N serves ring
  * partitions `part % N == i`, so concurrent flushes are
  * partition-disjoint and `TopicStore`'s produce plane runs them in
  * parallel.
  *
  * The routing is ADVISORY: it predicts the partition with the same
  * murmur3 (keyed) / xxhash64 (keyless) + ring math the produce plan
  * applies, but correctness never depends on the prediction — `produce`
  * and `produceLocal` derive their lock set from the partitions the batch
  * actually hashes to, so a prediction gone stale across a rescale only
  * costs concurrency. Keyless records route per line by value hash
  * (keyless produce has no order guarantee — reference parity); a request
  * whose lines split across brokers acks when ALL sub-batches are
  * durable.
  */
class ShardRouter(store: TopicStore, shards: IndexedSeq[ProduceChannel])
    extends ProduceChannel {
  require(shards.nonEmpty, "ShardRouter: empty shard list")

  private def shardOf(topic: String, key: String, value: Array[Byte]): Int =
    ShardRouter.ringOrdinal(store, topic, key, value) % shards.size

  override def submit(
      topic: String,
      key: String,
      tsMicros: Long,
      lines: Seq[Array[Byte]]): CompletableFuture[java.lang.Boolean] = {
    if (key != null && key.nonEmpty)
      shards(shardOf(topic, key, null)).submit(topic, key, tsMicros, lines)
    else {
      val byShard = lines.groupBy(l => shardOf(topic, null, l))
      if (byShard.size == 1) {
        val (s, ls) = byShard.head
        shards(s).submit(topic, key, tsMicros, ls)
      } else {
        val subs = byShard.toSeq.map { case (s, ls) =>
          shards(s).submit(topic, key, tsMicros, ls)
        }
        CompletableFuture.allOf(subs: _*).thenApply(_ => java.lang.Boolean.TRUE)
      }
    }
  }
}

object ShardRouter {
  /** The ONE driver-side record→ring-partition routing every serving
    * front shares (in-process shard routing, cross-process forwarding):
    * murmur3 of the key for keyed records, Spark's xxhash64 (seed 42) of
    * the value bytes for keyless — the same functions the produce plan's
    * codegen'd expressions evaluate, so the advisory route agrees with
    * the engine's authoritative flush-side assignment
    * (`TopicStore.localHash`).
    */
  def ringOrdinal(
      store: TopicStore, topic: String, key: String, value: Array[Byte]): Int = {
    val g = store.generation(topic)
    val hash =
      if (key != null && key.nonEmpty) Murmur3x64.hashString(key)
      else org.apache.spark.sql.catalyst.expressions.XxHash64Function
        .hash(value, org.apache.spark.sql.types.BinaryType, 42L)
    TokenRing.partitionOrdinal(hash, g.clusterSize, store.rangesPerToken)
  }
}

/** N-broker serving front over ONE store — the in-process analog of the
  * reference cluster's horizontal ingest plane (N brokers, each running
  * its own HTTP + binary producer server and owning disjoint token
  * ranges; `GET /v1/brokers` lists them all,
  * `internal/discovery/discoverer_client_service.go:30-124`). Each broker
  * is a full [[RestServer]] + [[BinaryProducerServer]] pair with its OWN
  * coalescer, and every produce front routes through one [[ShardRouter]]
  * so concurrent flushes touch disjoint ring partitions. Clients may produce to ANY broker
  * (in-process re-routing replaces the reference's broker-to-broker
  * forward); consumers register/poll against any ONE broker — group
  * offsets are store-level, but the deferred-commit session lives on
  * the broker that served the page, so a consumer that switches brokers
  * mid-stream re-reads from its last durable commit (the at-least-once
  * failover the reference's consumer reconnect also gives). The
  * coalescers flush via `produceLocal` (broker-local segment writes),
  * with `produce` the DataFrame twin on the same shared plane.
  *
  * On a real cluster the brokers would be separate JVMs over shared
  * storage. The cross-process seam exists since r9: the store's produce/
  * maintenance plane asserts the epoch-fenced PLANE LEASE
  * (`graft.engine.PlaneLease` — one writer JVM per root, loud rejection
  * of a second, heartbeat + epoch takeover on crash), so scaling the
  * ingest plane across processes means fronting ONE lease-holding writer
  * per root — or sharding topics across roots, each with its own lease;
  * the serving shape, routing, and discovery contract are what this
  * class pins.
  */
class BrokerGroup(
    val store: TopicStore,
    val brokers: Int,
    coalesceMs: Long = 50L,
    maxGroupBytes: Long = 2L * 1024 * 1024,
    readTimeoutMs: Long = 2 * 60 * 1000L) {
  require(brokers >= 1, s"BrokerGroup: need at least one broker, got $brokers")

  val servers: IndexedSeq[RestServer] = (0 until brokers).map { _ =>
    new RestServer(store, coalesceMs = coalesceMs, maxGroupBytes = maxGroupBytes,
      readTimeoutMs = readTimeoutMs)
  }

  val router = new ShardRouter(store, servers.map(_.coalescer))

  val binaryServers: IndexedSeq[BinaryProducerServer] =
    servers.map(_ => new BinaryProducerServer(router))

  servers.foreach(_.routeProduceVia(router))
  servers.zip(binaryServers).foreach { case (s, b) =>
    s.advertiseProducerBinaryPort(b.boundPort)
  }

  def start(): BrokerGroup = {
    servers.foreach(_.start())
    binaryServers.foreach(_.start())
    // discovery: every broker advertises the WHOLE group (reference
    // brokers return names + shared ports; in-process brokers differ by
    // port, so the listing carries per-broker port arrays)
    val listing = {
      val names = servers.map(_ => "\"localhost\"").mkString(",")
      val pp = servers.map(_.boundPort).mkString(",")
      val bp = binaryServers.map(_.boundPort).mkString(",")
      s"""{"length":$brokers,"names":[$names],"producerPorts":[$pp]""" +
        s""","producerBinaryPorts":[$bp],"consumerPorts":[$pp]}"""
    }
    servers.foreach(_.advertiseCluster(listing))
    this
  }

  def stop(): Unit = {
    binaryServers.foreach(_.stop())
    servers.foreach(_.stop())
  }
}
