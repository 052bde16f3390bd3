package graft.engine

import org.apache.logging.log4j.LogManager

import graft.core.TokenRing

/** Topology discovery (C5): poll a pluggable desired-replicas supplier
  * and rescale topics when the (normalized) broker count changes — the
  * Spark expression of `internal/discovery/discoverer.go:99-164`, where
  * the generic loop consumes a replica-count feed and the concrete feeds
  * are (a) a fixed-topology file (`loadFixedTopology`,
  * `discoverer.go:252-296`: `POLAR_BROKER_NAMES`-style comma/whitespace-
  * separated names re-read on a poll delay, default 10 s,
  * `config.go:388-391`) and (b) a Kubernetes StatefulSet watch
  * (`k8s_client.go` — a deploy-layer concern here; any cluster manager
  * can feed the same supplier seam). The count is normalized to a valid
  * ring size (1 or 3·2ⁿ, `utils.go:198-208`) and the topology swaps only
  * when the NORMALIZED count changes, emitting the change event that
  * drives the generation dance. Here the "brokers" are ring partitions
  * of the single-driver engine, and the change event IS the rescale:
  * each watched topic opens its next generation under the new ring.
  *
  * Faithful details: a supplier returning None (empty/unreadable file,
  * watch gap) is skipped (the reference `continue`s), a malformed count
  * is normalized down rather than rejected, and no action fires when
  * normalization maps the new count onto the current size (e.g. 6 -> 7
  * replicas stays a 6-ring). Rescale is the engine's crash-safe
  * copy-then-flip, so a poll-loop death mid-rescale leaves the old
  * generation current.
  */
class TopologyWatcher(
    store: TopicStore,
    // raw desired replica count (file poller, K8s watch, test fake);
    // None = no signal this tick. Normalization happens HERE, not in the
    // supplier, so every feed gets the same 3·2ⁿ discipline.
    desiredReplicas: () => Option[Int],
    pollDelayMs: Long = 10000L,
    // drain discipline forwarded to rescale: refuse a topology change
    // while registered groups lag (the reference waits for consumers to
    // drain old generations before joining ranges)
    requireDrained: Boolean = false,
    onRescale: (String, Generation) => Unit = (_, _) => ()) {

  @volatile private var lastError: Option[String] = None

  /** Most recent poll-loop failure (rescale errors surface here — the
    * loop keeps polling, like the reference's warn-and-continue).
    */
  def lastFailure: Option[String] = lastError

  private[graft] def pollOnce(): Unit =
    desiredReplicas().foreach { raw =>
      val size = TokenRing.validRingLength(raw)
      store.listTopics().foreach { case (topic, _, clusterSize) =>
        if (clusterSize != size) {
          try {
            val g = store.rescale(topic, size, requireDrained)
            onRescale(topic, g)
          } catch {
            case e: Exception =>
              lastError = Some(s"$topic: ${e.getMessage}")
              // operator-visible, like the reference's warn-and-continue:
              // a persistent refusal (e.g. requireDrained with lagging
              // groups) retries every tick and must not fail silently
              TopologyWatcher.log.warn(s"rescale $topic -> $size failed: ${e.getMessage}")
          }
        }
      }
    }

  /** Start the poll loop; `close()` stops it. One check runs immediately
    * (the reference applies the env-var topology at startup before the
    * file loop takes over).
    */
  def start(): AutoCloseable = {
    val exec = java.util.concurrent.Executors.newSingleThreadScheduledExecutor(r => {
      val t = new Thread(r, "graft-topology"); t.setDaemon(true); t
    })
    exec.scheduleWithFixedDelay(() => {
      try pollOnce()
      catch { case e: Throwable => lastError = Some(String.valueOf(e.getMessage)) }
    }, 0L, pollDelayMs, java.util.concurrent.TimeUnit.MILLISECONDS)
    () => { exec.shutdownNow(); () }
  }
}

object TopologyWatcher {
  private val log = LogManager.getLogger(classOf[TopologyWatcher])

  // one shared daemon watchdog thread for every commandReplicas tick —
  // a Timer per invocation was a thread create/teardown per poll
  private lazy val watchdog = new java.util.Timer("graft-k8s-watchdog", true)


  /** Parse topology-file content: comma/whitespace-separated broker names
    * (the `POLAR_BROKER_NAMES` shape); the broker COUNT is the ring
    * input, names are opaque. None for empty content.
    */
  private[engine] def parseBrokerNames(contents: String): Option[Int] = {
    val names = contents.split("[,\\s]+").filter(_.nonEmpty)
    if (names.isEmpty) None else Some(names.length)
  }

  /** The fixed-topology file feed (`loadFixedTopology`): re-read the file
    * each tick; a missing file or transient read error is no-signal.
    */
  private[engine] def fileReplicas(topologyFile: String): () => Option[Int] = () => {
    val p = java.nio.file.Path.of(topologyFile)
    if (!java.nio.file.Files.exists(p)) None
    else
      try parseBrokerNames(java.nio.file.Files.readString(p))
      catch { case _: java.io.IOException => None } // transient: next tick
  }

  /** Fixed-topology (file-poll) watcher — the non-Kubernetes mode. */
  def forFile(
      store: TopicStore,
      topologyFile: String,
      pollDelayMs: Long = 10000L,
      requireDrained: Boolean = false,
      onRescale: (String, Generation) => Unit = (_, _) => ()): TopologyWatcher =
    new TopologyWatcher(store, fileReplicas(topologyFile), pollDelayMs,
      requireDrained, onRescale)

  /** Parse a Kubernetes `StatefulSetList` (or single `StatefulSet`) API
    * payload — the shape `kubectl get statefulset -l
    * app.kubernetes.io/name=<app> -o json` returns — into the desired
    * replica count, with the reference's exact edge semantics
    * (`k8s_client.go:80-105`): no matching StatefulSet is an error (→
    * no-signal here, warn-and-continue), an absent `spec.replicas`
    * defaults to 1, and zero replicas is an error (the reference refuses
    * to scale a cluster to nothing). Malformed payloads are no-signal.
    */
  private[graft] def parseStatefulSetReplicas(json: String): Option[Int] =
    try {
      val root = new com.fasterxml.jackson.databind.ObjectMapper().readTree(json)
      if (root == null || !root.isObject) None
      else {
        val sts =
          if (root.has("items")) {
            val items = root.get("items")
            if (!items.isArray || items.size == 0) null else items.get(0)
          } else root
        if (sts == null) None
        else {
          val spec = sts.get("spec")
          val replicas =
            if (spec == null || spec.get("replicas") == null) 1
            else spec.get("replicas").asInt(1)
          if (replicas <= 0) None else Some(replicas)
        }
      }
    } catch { case _: Exception => None }

  /** The Kubernetes StatefulSet feed (`k8s_client.go`): desired replicas
    * come from the StatefulSet selected by the reference's
    * `app.kubernetes.io/name=<app>` label in the pod's namespace,
    * queried through an external command (default: kubectl against the
    * cluster API, exactly the AppsV1 List the reference issues). A
    * failing or missing command is no-signal — the poll loop
    * warns-and-continues like the reference's watch-reconnect backoff;
    * there is no separate watch channel because the poll delay plays
    * that role (the same simplification the fixed-topology file mode
    * makes in `discoverer.go`).
    */
  private[graft] def commandReplicas(
      cmd: Seq[String], timeoutMs: Long = 30000L): () => Option[Int] = () =>
    try {
      val pb = new ProcessBuilder(cmd: _*)
      // stderr is DISCARDED, not left on a pipe: a kubectl writing more
      // than the ~64 KB pipe buffer of diagnostics would otherwise block
      // on the full stderr pipe while we block on stdout readAllBytes —
      // a permanent deadlock of the topology poll thread
      pb.redirectError(ProcessBuilder.Redirect.DISCARD)
      val proc = pb.start()
      // watchdog BEFORE the stdout read: a kubectl hung on an unreachable
      // API server neither exits nor closes stdout, so a bare
      // readAllBytes would block forever ahead of any waitFor timeout.
      // Destroying the process closes its pipes, which unblocks the read;
      // the poll loop then degrades to the documented no-signal
      // warn-and-continue instead of stalling permanently. The timer is
      // SHARED (one daemon thread for the JVM, not one per tick), and
      // the verdict below is exit-status-only: a kill racing a clean
      // exit is a no-op (SIGKILL on an exited process changes nothing),
      // so a timer that fires just as kubectl finishes must not turn a
      // valid replica reading into a skipped topology change.
      val deadline = System.nanoTime() + timeoutMs * 1000000L
      val task = new java.util.TimerTask {
        override def run(): Unit = { proc.destroyForcibly(); () }
      }
      TopologyWatcher.watchdog.schedule(task, timeoutMs)
      try {
        val out = new String(proc.getInputStream.readAllBytes(),
          java.nio.charset.StandardCharsets.UTF_8)
        // remaining budget, not a fresh window: read + wait together are
        // bounded by ONE timeoutMs, so a slow-but-alive kubectl cannot
        // hold the poll thread for twice the intended timeout
        val leftMs = math.max(1L, (deadline - System.nanoTime()) / 1000000L)
        val done = proc.waitFor(leftMs, java.util.concurrent.TimeUnit.MILLISECONDS)
        if (!done) { proc.destroyForcibly(); None }
        else if (proc.exitValue() != 0) None
        else parseStatefulSetReplicas(out)
      } finally { task.cancel(); () }
    } catch { case _: Exception => None } // kubectl absent/unreachable: next tick

  /** Kubernetes-discovery watcher: polls the StatefulSet named by the
    * app label for its desired replicas (the in-cluster analog reads the
    * same object through the API server; see `parseStatefulSetReplicas`
    * for the payload semantics).
    */
  def forKubernetes(
      store: TopicStore,
      namespace: String,
      appName: String,
      pollDelayMs: Long = 10000L,
      requireDrained: Boolean = false,
      onRescale: (String, Generation) => Unit = (_, _) => (),
      kubectl: String = "kubectl"): TopologyWatcher =
    new TopologyWatcher(
      store,
      commandReplicas(Seq(kubectl, "get", "statefulset",
        "-n", namespace, "-l", s"app.kubernetes.io/name=$appName",
        "-o", "json")),
      pollDelayMs, requireDrained, onRescale)
}
