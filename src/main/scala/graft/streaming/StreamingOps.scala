package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

import graft.functions.StableHash
import graft.operators.{DedupOps, EventOps, SimOps, TextOps}

/** One event on the stream (mirrors the `events` table's queryable core). */
case class StreamEvent(ts: java.sql.Timestamp, user_id: Long, event_type: String, value: Double)

/** An identified event for the streaming as-of join. */
case class StreamIdEvent(event_id: Long, ts: java.sql.Timestamp, user_id: Long, event_type: String)

/** Buffered per-key state for [[StreamingOps.asofJoinStream]]: unfinalized
  * left events and the still-matchable right events (epoch ms, id).
  */
case class AsofBuffer(lefts: List[(Long, Long)], rights: List[(Long, Long)])

/** A finalized as-of match (gap in ms; -1 id/gap when no prior right). */
case class AsofMatch(user_id: Long, l_event_id: Long, l_ts_ms: Long, r_event_id: Long, gap_ms: Long)

/** One scored row for the streaming group top-k (the input shape of the
  * batch [[graft.plans.GroupTopK]] formulation it mirrors).
  */
case class ScoredEvent(event_id: Long, event_type: String, value: Double)

/** One CDC change row for the streaming MERGE INTO loop: `op` is D/U/I,
  * the payload columns mirror the maintained table's schema.
  */
case class ChangeRow(k: Long, name: String, v: Double, op: String)

/** One tagged insert for the streaming join-view maintenance loop:
  * `side` is A/B; A rows carry (k, a_v), B rows carry (k, b_w) — the
  * irrelevant payload column is ignored for the other side.
  */
case class JoinDelta(side: String, k: Long, a_v: Double, b_w: String)

/** Bounded per-key state for [[StreamingOps.topKPerKey]]: at most k
  * (value, event_id) entries, best-first.
  */
case class TopKBuffer(entries: List[(Double, Long)])

/** One change-row for [[StreamingOps.extremaStream]]: `mult` is +n for
  * inserts of value `v_bp`, −n for deletes (the batch
  * `EventOps.mergeExtremaStates` delta convention, pre-exploded sides
  * collapsed — a value is a candidate for BOTH extremes).
  */
case class ExtremaDelta(event_type: String, v_bp: Long, mult: Long)

/** Per-group state for [[StreamingOps.extremaStream]]: the k smallest and
  * k largest buffered (v_bp, mult) entries, each side sorted best-first.
  */
case class ExtremaBuffer(lo: List[(Long, Long)], hi: List[(Long, Long)])

/** The maintained MIN/MAX view row; a drained side is None — the recompute
  * signal, never a wrong extreme (the batch `extremaView` contract).
  */
case class ExtremaRow(event_type: String, min_bp: Option[Long], max_bp: Option[Long])

/** One weighted-sample candidate for [[StreamingOps.prioritySampleStream]]:
  * `h` = hash60(id)+1 is computed by Catalyst in the pre-pass so the
  * priority arithmetic is shared with the batch operator.
  */
case class PriCand(group: String, id: Long, w_bp: Long, h: Long)

/** Per-group top-k candidate buffer — the state IS the sample. */
case class PriBuffer(rows: List[(Long, Long, Long)])

/** One emitted member of the maintained per-group priority sample. */
case class PriSampleRow(group: String, rank: Int, id: Long, w_bp: Long)

/** One decoded perceptual hash on the media stream (the
  * `MultimodalOps.phashBands` output schema): `bands` is the aHash split
  * into byte-sized band slices, ready for Hamming-LSH bucketing.
  */
case class PhashItem(media_id: Long, bands: Seq[Long])

/** One perceptual-hash EVENT for
  * [[StreamingOps.phashPairsForgetStream]] (`op` ∈ ingest|forget; a
  * forget carries the same decoded bands as the ingest so it routes to
  * the same buckets).
  */
case class PhashForgetEvent(op: String, media_id: Long, bands: Seq[Long])

/** One (band-bucket, item) event for [[StreamingOps.phashPairsStream]] /
  * [[StreamingOps.phashPairsForgetStream]].
  */
case class PhashBucketItem(
    bkey: String, media_id: Long, bands: Seq[Long], op: String)

/** Per-bucket seen-set for [[StreamingOps.phashPairsStream]] — the EXACT
  * hash groups that have landed in this band bucket so far (rep id, the
  * hash, member ids id-ascending, frozen flag), rep-id-ascending. One
  * bands vector per DISTINCT hash, not per item: the exact-dedup-first
  * state shape. A FROZEN group (founded in a band-0 bucket already at the
  * cap) participates only in intra (hamming-0) emission, never in
  * cross-group pairing — the exact-dedup registry entry without the
  * quadratic pairing cost.
  *
  * PERSISTED STATE-STORE SCHEMA (pinned in StreamingOpsSpec): changing it
  * breaks checkpoint resume, as the [[FpRegistry]] note describes.
  */
case class PhashBucket(groups: List[(Long, Seq[Long], List[Long], Boolean)])

/** One emitted perceptual near-dup pair (id_a < id_b). */
case class PhashPairRow(id_a: Long, id_b: Long, hamming: Long)

/** One (doc, minhash signature) row for
  * [[StreamingOps.minhashPairsStream]] — the row-local mirror of
  * `DedupOps.minhashSigs`' per-document signature.
  */
case class MinhashDocSig(doc_id: Long, sig: Seq[Long])

/** One (band-bucket, doc) event for [[StreamingOps.minhashPairsStream]] /
  * [[StreamingOps.minhashPairsForgetStream]] (`op` ∈ ingest|forget).
  */
case class MinhashBucketItem(
    bkey: String, band: Int, doc_id: Long, sig: Seq[Long], op: String)

/** Per-band-bucket seen-set for [[StreamingOps.minhashPairsStream]]: the
  * exact-SIGNATURE groups that have landed in this bucket (rep id, the
  * signature, member ids id-ascending, frozen flag) — the
  * [[PhashBucket]] state shape with the full minhash signature as the
  * group identity (identical signatures share every band, so one entry
  * per distinct signature bounds the state exactly like the phash
  * distinct-hash registry).
  *
  * PERSISTED STATE-STORE SCHEMA (pinned in StreamingOpsSpec): changing it
  * breaks checkpoint resume, as the [[FpRegistry]] note describes.
  */
case class MinhashBucket(groups: List[(Long, Seq[Long], List[Long], Boolean)])

/** One emitted MinHash-LSH candidate-pair event (id_a < id_b, the band
  * that collided): `groupBy(id_a, id_b).count()` downstream reproduces
  * the batch operator's `n_shared_bands`.
  */
case class MinhashPairRow(id_a: Long, id_b: Long, band: Int)

/** One embedding arrival for [[StreamingOps.embedNearDupStream]]. */
case class EmbedItem(vec_id: Long, embedding: Seq[Float])

/** One embedding EVENT for [[StreamingOps.embedForgetStream]]
  * (`op` ∈ ingest|forget; a forget carries the embedding so it routes
  * to the same sign-LSH bucket).
  */
case class EmbedForgetEvent(op: String, vec_id: Long, embedding: Seq[Float])

/** Per-bucket exact-dedup groups for [[StreamingOps.embedNearDupStream]]:
  * (rep id, the raw embedding, its L2 norm, member ids id-ascending,
  * frozen flag) per DISTINCT vector — the same exact-dedup-first state
  * shape as [[PhashBucket]], with the norm precomputed once per group.
  *
  * PERSISTED STATE-STORE SCHEMA (pinned in StreamingOpsSpec): changing it
  * breaks checkpoint resume, as the [[FpRegistry]] note describes.
  */
case class EmbedBucket(groups: List[(Long, Seq[Float], Double, List[Long], Boolean)])

/** One emitted embedding near-dup pair (id_a < id_b, cosine in bp). */
case class EmbedPairRow(id_a: Long, id_b: Long, cos_bp: Long)

/** Per-SUPERCELL state for [[StreamingOps.cellNearDupStreamHier]]: this
  * supercell's centroid BLOCK ((c_id, centroid, norm), c_id-ascending —
  * the ≈√nlist-entry slice of the snapshot that `SimOps.cellArgmaxHier`
  * shuffle-joins on sc_id) plus one [[EmbedBucket]] registry per cell of
  * the block that has ingested anything, cell-ascending. Keying state by
  * SUPERCELL is what makes the streaming twin scale-true: the snapshot
  * payload rides the distributed initial state, PARTITIONED across the
  * state store by sc — each task holds only its sc keys' blocks,
  * O(√nlist·d) per key, never the full O(nlist·d) array the r16 closure
  * shipped to every task.
  *
  * PERSISTED STATE-STORE SCHEMA (pinned in StreamingOpsSpec): changing it
  * breaks checkpoint resume, as the [[FpRegistry]] note describes.
  */
case class HierCellState(
    block: List[(Long, Seq[Float], Double)],
    cells: List[(Long, EmbedBucket)])

/** The two pieces a two-level stream needs from its centroid snapshot:
  * the ≈√nlist-entry supercenter array (the ONLY driver/closure
  * payload) and the sc-keyed block-only initial state (distributed).
  * Build with [[StreamingOps.hierStreamIndex]] from a centroid DATASET
  * when nlist is too large for a driver Seq — the megacell entry point.
  */
final case class HierStreamIndex(
    sups: IndexedSeq[(Long, Seq[Float], Double)],
    state: Dataset[(Long, HierCellState)])

/** Tail of a user's timeline — [[StreamingOps.typeTransitionsStream]]
  * state: the (event-time µs, event id, type) of the last event seen.
  */
case class LastTyped(ts_us: Long, event_id: Long, tpe: String)

/** Buffered per-user state for [[StreamingOps.typeTransitionsStream]]:
  * the last FINALIZED event (the chain tail, already paired) plus the
  * not-yet-finalizable events above the watermark, unordered.
  */
case class TransitBuffer(tail: Option[LastTyped], pending: List[LastTyped])

/** One emitted user-journey transition (the lag pair). */
case class TransitionRow(user_id: Long, from_type: String, to_type: String)

/** Open-session state for [[StreamingOps.sessionize]] (epoch millis). */
case class OpenSession(start: Long, end: Long, n: Long)

/** A closed session emitted by [[StreamingOps.sessionize]]. */
case class ClosedSession(user_id: Long, start_ms: Long, end_ms: Long, n_events: Long)

/** [[StreamingOps.forgetStream]] input: an ingest or takedown naming a
  * document by id AND content (`text` carries what the fingerprint is
  * computed from — the id→content resolution a real takedown performs
  * against the metadata store before it can touch a content-keyed
  * registry).
  */
case class ForgetEvent(op: String, doc_id: Long, text: String)

/** Fingerprinted [[ForgetEvent]] — the stateless stage's output. */
case class FpItem(fp_md5: String, op: String, doc_id: Long)

/** Per-fingerprint registry state for [[StreamingOps.forgetStream]]:
  * `members` holds the tracked ids SORTED ASCENDING (under a cap, the
  * `maxMembers` smallest ids alive — see the min-exactness invariant in
  * the operator doc), `nUntracked` the exact count of over-cap members
  * whose ids were not recorded, and `untrackedMin` a LOWER BOUND on
  * every untracked id still alive (Long.MaxValue when none). The bound
  * is what keeps min(tracked) exact after takedowns re-open tracked
  * slots: an ingest with id ≥ `untrackedMin` might not be smaller than
  * every untracked copy, so it is routed to the count instead of the
  * tracked set — max(tracked) < untrackedMin ≤ every untracked id holds
  * under any interleaving. The bound is conservative (a forget of an
  * untracked copy may leave it stale-low, routing some admissible ids
  * to the count), never unsound; it resets when the count reaches zero.
  *
  * STATE-SCHEMA COMPATIBILITY (r19 ADVICE): `untrackedMin` was added in
  * r19 — a [[StreamingOps.forgetStream]] query resumed from a checkpoint
  * written by a pre-r19 build fails Spark's state-store schema check
  * (the encoder's row width changed). There is no migration path:
  * DISCARD pre-r19 forgetStream checkpoints and re-ingest the registry
  * (the degrade/re-bootstrap runbook in the operator doc); checkpoints
  * written at or after the field's introduction resume normally — that
  * contract is what StreamingOpsSpec's resume pins exercise.
  */
case class FpRegistry(
    members: List[Long], nUntracked: Long,
    untrackedMin: Long = Long.MaxValue)

/** Audit row emitted by [[StreamingOps.forgetStream]], one per event:
  * `rep` is the group representative AFTER the op (None on
  * purge/degrade/unknown-content noop).
  */
case class ForgetEventRow(fp_md5: String, doc_id: Long, action: String, rep: Option[Long])

/** One key's EXACT-CONTENT group registry — the per-key state machine of
  * every streaming near-dup operator ([[StreamingOps.phashPairsForgetStream]],
  * [[StreamingOps.minhashPairsForgetStream]],
  * [[StreamingOps.embedForgetStream]], [[StreamingOps.cellForgetStream]]
  * and the per-cell registries of [[StreamingOps.cellNearDupStreamHier]]).
  * The callers differ only in what they key by, what content identifies a
  * group, and how two contents score; the update rule is this one.
  *
  * Groups are (rep, content, member ids, frozen), taken from the key's
  * persisted state and handed back by [[groups]]. Member-id → group and
  * content → group lookups are transient hash indexes rebuilt per
  * micro-batch invocation, so per-event bookkeeping is O(1); only the cross
  * loop below is O(active groups) per distinct arrival — O(cap) capped.
  *
  *  - INGEST of an id already a member: nothing.
  *  - INGEST of content equal to a group's: intra pairs (value
  *    `intraValue`) against the group's members when `home`, then — unless
  *    the group is frozen — cross pairs against the key's OTHER unfrozen
  *    groups at the group's content; the id joins the group.
  *  - INGEST of new content: while fewer than `cap` unfrozen groups exist
  *    (`cap` = 0: no cap), cross pairs against every unfrozen group, then
  *    founds a new unfrozen group. At the cap the founder is recorded
  *    FROZEN when `home` and dropped otherwise: a frozen group never
  *    cross-pairs (pairing cost stays ≤ cap² per key) but its later exact
  *    duplicates still emit intra pairs, so exact-duplicate recall is
  *    unconditional. The cap counts in arrival order; a batch cap that
  *    retro-drops a whole bucket has no streaming equivalent.
  *  - FORGET of a member: it leaves its group and the rep re-elects by the
  *    batch min rule. A group whose last member leaves is PURGED: its
  *    content is forgotten (a fresh arrival of it founds a new group and
  *    cross-pairs normally) and, if unfrozen, it frees its cap slot. A
  *    forget of a non-member id is a noop. Forgets are silent state edits:
  *    a stream cannot un-emit, so the contract is on FUTURE emission —
  *    later arrivals pair as if the forgotten id had never been ingested.
  *
  * [[applyBatch]] orders one micro-batch by (id, ingest-before-forget), so
  * a same-batch ingest and forget of one id leaves it forgotten. A cross
  * pair is emitted when `cross` scores the two contents `Some(value)`;
  * `cross` = None turns cross pairing off for the key. Two contents are
  * exact duplicates when their `key`s are equal (the content itself by
  * default). Pairs go to `out` as (min id, max id, value).
  */
private final class ExactGroups[C](
    state: Seq[(Long, C, List[Long], Boolean)],
    cap: Int,
    home: Boolean,
    intraValue: Long,
    cross: Option[(C, C) => Option[Long]],
    out: scala.collection.mutable.Builder[(Long, Long, Long), _],
    key: C => Any = (c: C) => c) {
  private val gs = scala.collection.mutable.ArrayBuffer.from(state)
  private val byMember = scala.collection.mutable.HashMap.empty[Long, Int]
  private val byContent = scala.collection.mutable.HashMap.empty[Any, Int]
  gs.indices.foreach { i =>
    gs(i)._3.foreach(byMember(_) = i)
    byContent.getOrElseUpdate(key(gs(i)._2), i)
  }
  private var nActive = gs.count(!_._4)

  def contains(id: Long): Boolean = byMember.contains(id)

  def ingest(id: Long, c: C): Unit = if (!contains(id)) byContent.get(key(c)) match {
    case Some(gi) =>
      val (rep, gc, members, frozen) = gs(gi)
      if (home) members.foreach(pair(id, _, intraValue))
      if (!frozen) crossPairs(id, gc, gi)
      gs(gi) = (rep, gc, members :+ id, frozen)
      byMember(id) = gi
    case None =>
      val frozen = cap > 0 && nActive >= cap
      if (!frozen) { crossPairs(id, c, -1); nActive += 1 }
      if (!frozen || home) {
        byContent(key(c)) = gs.length
        byMember(id) = gs.length
        gs += ((id, c, List(id), frozen))
      }
  }

  def forget(id: Long): Unit = byMember.remove(id).foreach { gi =>
    val (rep, c, members, frozen) = gs(gi)
    val left = members.filterNot(_ == id)
    if (left.nonEmpty) gs(gi) = (left.min, c, left, frozen)
    else {
      // purged in place so indexes stay valid; `groups` drops it
      gs(gi) = (rep, c, Nil, frozen)
      if (byContent.get(key(c)).contains(gi)) byContent -= key(c)
      if (!frozen) nActive -= 1
    }
  }

  def applyBatch(events: Iterator[(String, Long, C)]): Unit =
    events.toList.sortBy(e => (e._2, e._1 != "ingest")).foreach { case (op, id, c) =>
      if (op == "forget") forget(id) else ingest(id, c)
    }

  def groups: List[(Long, C, List[Long], Boolean)] = gs.filter(_._3.nonEmpty).toList

  /** Persists [[groups]] to the key's state, or removes the key when none is left. */
  def saveTo[S](state: GroupState[S])(wrap: List[(Long, C, List[Long], Boolean)] => S): Unit =
    groups match {
      case Nil => state.remove()
      case live => state.update(wrap(live))
    }

  private def crossPairs(id: Long, c: C, self: Int): Unit = cross.foreach { score =>
    gs.indices.foreach { oi =>
      val (_, oc, om, ofrozen) = gs(oi)
      if (oi != self && !ofrozen) score(c, oc).foreach(v => om.foreach(pair(id, _, v)))
    }
  }

  private def pair(a: Long, b: Long, v: Long): Unit =
    out += ((math.min(a, b), math.max(a, b), v))
}

/** Structured Streaming surface — north-star extension; the reference has no
  * data-plane streaming (its only loop is the 5 s control-plane heartbeat,
  * `Server.java:588-650`, which Spark replaces with executor heartbeats).
  *
  * Batch/stream parity: [[hourlyCounts]] is the streaming twin of
  * `EventOps.tumblingAgg` — same grouping, same aggregates — so a pipeline
  * can run one definition over history (batch parquet) and the live tail
  * (stream) and get consistent rollups. State never grows unboundedly: the
  * watermark bounds window state, and the running-count state uses explicit
  * processing-time timeouts.
  */
object StreamingOps {

  /** Tumbling 1-hour counts with a watermark: late events beyond
    * `watermarkDelay` are dropped and window state is reclaimed — the only
    * viable contract for an unbounded 100 TB/day stream.
    */
  def hourlyCounts(events: DataFrame, watermarkDelay: String = "2 hours"): DataFrame =
    events
      .withWatermark("ts", watermarkDelay)
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n_events"), round(sum(col("value")), 2).as("sum_value"))
      .select(
        col("window.start").as("bucket"), col("event_type"),
        col("n_events"), col("sum_value"))

  /** Custom keyed state via `mapGroupsWithState`: a per-user running event
    * count that survives across micro-batches. State is one Long per user.
    *
    * `timeout = Some(duration)` evicts state after that much inactivity
    * (processing-time timeout) so the store stays bounded by the active-user
    * set — the production setting. `None` uses NoTimeout: state lives for
    * the query's lifetime, and (usefully for tests) the engine schedules no
    * timeout-only batches, so `processAllAvailable` quiesces.
    */
  def runningUserCounts(
      events: Dataset[StreamEvent],
      timeout: Option[String] = None): Dataset[(Long, Long)] = {
    import events.sparkSession.implicits._
    val conf = timeout.map(_ => GroupStateTimeout.ProcessingTimeTimeout)
      .getOrElse(GroupStateTimeout.NoTimeout)
    events
      .groupByKey(_.user_id)
      .mapGroupsWithState(conf) {
        (user: Long, batch: Iterator[StreamEvent], state: GroupState[Long]) =>
          if (state.hasTimedOut) {
            val last = state.get
            state.remove()
            (user, last)
          } else {
            val n = state.getOption.getOrElse(0L) + batch.size
            state.update(n)
            timeout.foreach(state.setTimeoutDuration)
            (user, n)
          }
      }
  }

  /** Streaming per-window HLL registers: watermarked distinct-user sketches
    * per (hour, event_type) — the streaming face of
    * [[graft.operators.SketchOps]]. The state Spark keeps is the register
    * table itself: at most m=256 (window, type, idx) cells per group,
    * CONSTANT in the number of distinct users, merged across micro-batches
    * by `max` (the sketch's mergeability) and reclaimed by the watermark.
    * A streaming exact COUNT(DISTINCT) would instead hold every user id in
    * state — unbounded; Spark rejects it in append mode for exactly that
    * reason. Downstream (or a test) finalizes the estimate with
    * `SketchOps.estimateFromRegisters` over any register snapshot.
    */
  def hllRegisters(events: DataFrame, watermarkDelay: String = "2 hours"): DataFrame =
    events
      .withWatermark("ts", watermarkDelay)
      .select(
        window(col("ts"), "1 hour").as("w"), col("event_type"),
        graft.operators.SketchOps.registerIndex(col("user_id")).as("idx"),
        graft.operators.SketchOps.rho(col("user_id")).as("r"))
      .groupBy(col("w"), col("event_type"), col("idx"))
      .agg(max(col("r")).as("rho"))
      .select(col("w.start").as("bucket"), col("event_type"), col("idx"), col("rho"))

  /** Streaming ingestion dedup: keep the first arrival per `keys` and
    * suppress repeats arriving within the watermark horizon — the streaming
    * twin of `DedupOps.incrementalNew`'s batch anti-join against the seen-
    * fingerprint table. `dropDuplicatesWithinWatermark` (not plain
    * `dropDuplicates`) is the only shape that survives an unbounded stream:
    * per-key state expires with the watermark instead of growing with every
    * key ever seen. The trade is documented honestly: a duplicate arriving
    * LATER than the horizon is re-admitted (at 100 TB/day the horizon is
    * sized to the dedup SLA, and a downstream batch [[graft.operators.DedupOps]]
    * pass catches stragglers).
    */
  def dedupIngest(
      events: DataFrame,
      keys: Seq[String] = Seq("user_id", "event_type"),
      watermarkDelay: String = "1 hour"): DataFrame =
    events
      .withWatermark("ts", watermarkDelay)
      .dropDuplicatesWithinWatermark(keys)

  /** Streaming content-addressed ingest — the streaming twin of
    * `MultimodalOps.cdcDuplicateChunks`' batch ledger, run at write time:
    * arriving payloads are cut by the SAME rolling-hash chunker
    * (`MultimodalOps.cdcChunks`, a typed per-partition pass that works
    * identically on a stream), and `dropDuplicates` on the chunk hash
    * admits only first-seen chunks — exactly what a dedup store writes;
    * suppressed rows ARE the storage savings. Unlike [[dedupIngest]]
    * there is deliberately no watermark expiry: the seen-hash state is
    * the store's content index, bounded by DISTINCT content, not by
    * arrival volume (a production system backs it with the store's own
    * key lookup or a Bloom pre-filter; the state-store shape here is the
    * same). Batch parity: emitted hashes equal the batch distinct chunk
    * set of everything streamed — spec-pinned, with a byte-identical
    * replica contributing zero rows.
    */
  def cdcIngestStream(
      media: Dataset[graft.operators.MediaRow], modulus: Int = 32): DataFrame =
    graft.operators.MultimodalOps.cdcChunks(media, modulus).toDF()
      .dropDuplicates("chunk_md5")

  /** Streaming takedown / right-to-be-forgotten maintenance — the
    * `mapGroupsWithState` twin of [[graft.operators.DedupOps.dedupForget]]
    * applied to the EXACT-dedup registry (the content-fingerprint index
    * [[dedupIngest]]'s anti-join reads): ingests and tombstones flow
    * through one keyed state, the group representative is re-elected on
    * deletion, and content whose every copy is forgotten is PURGED so a
    * fresh legitimate arrival re-admits as new — the actual
    * right-to-be-forgotten contract (a registry that remembers purged
    * fingerprints forever has not forgotten them).
    *
    * Fingerprint stage (stateless, row-local): md5 of the normalized
    * token stream — bit-identical to [[graft.operators.DedupOps.exactDedup]]
    * and `incrementalNew`'s rule, so the registry and the batch table
    * agree on content identity.
    *
    * Registry semantics, one audit row per event ([[ForgetEventRow]]):
    *  - ingest, no state: `admitted`, rep = the arrival.
    *  - ingest, state: member inserted, `suppressed`, rep = min(members)
    *    AFTER insertion (the batch `keep_id` rule, so a smaller-id
    *    arrival takes over as rep — exactly [[DedupOps.exactDedup]]'s
    *    min; same-id redelivery of a TRACKED id is idempotent — see the
    *    capped-mode delivery contract below for untracked ids).
    *  - forget, tracked member: removed; survivors → `forgotten` with
    *    the re-elected rep; none and nothing untracked → `purged`, state
    *    REMOVED (re-admission open).
    *  - forget, unknown content / non-member id: `noop` (rep = current
    *    rep if any) — a takedown for content the store never had.
    *
    * Within-batch ordering: events apply in (doc_id, ingest-before-
    * forget) order — deterministic under re-execution, and an ingest and
    * a takedown of the SAME doc landing in one micro-batch resolve with
    * the takedown winning (the ingest admits, then the forget removes
    * it), never the reverse — the safe resolution for a compliance op.
    * Cross-batch order is arrival order.
    *
    * `maxMembers` > 0 is the hot-content guard (the same boilerplate doc
    * arrives millions of times at 100 TB): the registry tracks only the
    * `maxMembers` SMALLEST ids alive plus an exact untracked COUNT and a
    * lower bound `untrackedMin` on the untracked ids ([[FpRegistry]]).
    * Min-exactness invariant: max(tracked) < untrackedMin ≤ every
    * untracked id. It holds because an id only reaches the count when it
    * is ≥ the bound or evicted as the tracked MAXIMUM (the bound then
    * absorbs it), and an ingest while copies are untracked only enters
    * the tracked set when its id is < the bound — so even after
    * takedowns re-open tracked slots, nothing larger than a live
    * untracked copy can join, and min(tracked) IS the global min
    * whenever tracked is non-empty, under ANY interleaving of ingests
    * and forgets. The cap therefore prices only DELETION capacity: a
    * forget naming an untracked copy decrements the count
    * (`forgotten_untracked`, rep unchanged — provably still exact); only
    * when takedowns exhaust the whole tracked set while untracked copies
    * remain does the registry emit `degraded` and clear, handing the key
    * to the downstream batch pass ([[graft.operators.DedupOps.dedupForget]])
    * — size `maxMembers` to the takedowns-per-content budget, not to the
    * duplicate volume. Parity is pinned uncapped (every twin's rule).
    *
    * Capped-mode delivery contract: the untracked COUNT is exact under
    * exactly-once event delivery. Under at-least-once redelivery the
    * registry cannot distinguish a redelivered untracked ingest from a
    * genuine new copy (it kept no identity for it — that is the cap),
    * so a redelivery inflates the count by one and the fingerprint can
    * then only leave via `degraded`→batch, never `purged`. Run capped
    * mode behind an exactly-once source (Kafka transactional / the
    * store's own key lookup), or accept that over-counted keys resolve
    * through the batch [[graft.operators.DedupOps.dedupForget]] pass —
    * the degrade handoff is the designed escape hatch, not a data-loss
    * path. Uncapped mode is redelivery-idempotent unconditionally.
    *
    * State is O(distinct content · min(copies, cap)) longs — the
    * registry an incremental exact dedup keeps anyway, now deletable.
    */
  def forgetStream(
      events: Dataset[ForgetEvent],
      maxMembers: Int = 0,
      idCol: String = "doc_id",
      textCol: String = "text",
      opCol: String = "op"): Dataset[ForgetEventRow] = {
    import events.sparkSession.implicits._
    events.toDF()
      .select(md5(concat_ws(" ", TextOps.tokens(col(textCol)))).as("fp_md5"),
        col(opCol).as("op"), col(idCol).cast("long").as("doc_id"))
      .as[FpItem]
      .groupByKey(_.fp_md5)
      .mapGroupsWithState(GroupStateTimeout.NoTimeout)(
        (fp: String, batch: Iterator[FpItem], state: GroupState[FpRegistry]) => {
          val tracked = scala.collection.mutable.TreeSet.empty[Long]
          state.getOption.foreach(_.members.foreach(tracked += _))
          var nUntracked = state.getOption.map(_.nUntracked).getOrElse(0L)
          var untrackedMin =
            state.getOption.map(_.untrackedMin).getOrElse(Long.MaxValue)
          val out = List.newBuilder[ForgetEventRow]
          // (doc_id, ingest-before-forget): a same-batch ingest+forget of
          // one doc applies the takedown LAST — forget wins, never the
          // alphabetical accident of applying it to pre-ingest state
          batch.toList
            .sortBy(it => (it.doc_id, if (it.op == "ingest") 0 else 1))
            .foreach { it =>
            it.op match {
              case "ingest" =>
                if (tracked.contains(it.doc_id)) // tracked-id redelivery
                  out += ForgetEventRow(fp, it.doc_id, "suppressed",
                    Some(tracked.head))
                else if (tracked.isEmpty && nUntracked == 0L) {
                  tracked += it.doc_id
                  out += ForgetEventRow(fp, it.doc_id, "admitted",
                    Some(it.doc_id))
                } else {
                  if (maxMembers <= 0) tracked += it.doc_id
                  else if (it.doc_id >= untrackedMin) {
                    // might not be smaller than every live untracked
                    // copy: tracking it could fake the min after future
                    // takedowns — route to the count (bound unchanged:
                    // doc_id ≥ untrackedMin already)
                    nUntracked += 1L
                  } else if (tracked.size < maxMembers) tracked += it.doc_id
                  else if (it.doc_id < tracked.last) {
                    // keep the cap's SMALLEST ids: evict the max to the
                    // untracked count (the min-exactness invariant)
                    val evicted = tracked.last
                    tracked -= evicted
                    tracked += it.doc_id
                    nUntracked += 1L
                    untrackedMin = math.min(untrackedMin, evicted)
                  } else {
                    nUntracked += 1L
                    untrackedMin = math.min(untrackedMin, it.doc_id)
                  }
                  out += ForgetEventRow(fp, it.doc_id, "suppressed",
                    Some(tracked.head))
                }
              case "forget" =>
                if (tracked.contains(it.doc_id)) {
                  tracked -= it.doc_id
                  if (tracked.nonEmpty)
                    out += ForgetEventRow(fp, it.doc_id, "forgotten",
                      Some(tracked.head))
                  else if (nUntracked == 0L)
                    out += ForgetEventRow(fp, it.doc_id, "purged", None)
                  else {
                    // takedowns exhausted the tracked set with untracked
                    // copies alive: the registry cannot re-elect — hand
                    // the key to the batch pass
                    nUntracked = 0L
                    untrackedMin = Long.MaxValue
                    out += ForgetEventRow(fp, it.doc_id, "degraded", None)
                  }
                } else if (nUntracked > 0L) {
                  // an untracked copy (or an id the store never had — a
                  // capped registry cannot tell; production backs this
                  // with the store's own key lookup): rep provably
                  // unchanged, count decremented. The bound may go
                  // stale-low here — conservative, reset at zero.
                  nUntracked -= 1L
                  if (nUntracked == 0L) untrackedMin = Long.MaxValue
                  out += ForgetEventRow(fp, it.doc_id, "forgotten_untracked",
                    Some(tracked.head))
                } else
                  out += ForgetEventRow(fp, it.doc_id, "noop",
                    tracked.headOption)
              case other =>
                throw new IllegalArgumentException(
                  s"forgetStream: unknown op '$other' (expect ingest|forget)")
            }
          }
          if (tracked.isEmpty && nUntracked == 0L) state.remove()
          else state.update(FpRegistry(tracked.toList, nUntracked, untrackedMin))
          out.result()
        })
      .flatMap(identity)
  }

  /** Watermarked stream-stream interval self-join: view → purchase
    * conversions within `withinSec` — the streaming twin of
    * `RangeJoinOps.withinWindowPairs`. The time-bound join condition plus
    * watermarks on BOTH sides is what lets Spark reclaim join state (a view
    * older than watermark + window can never match again); without the
    * bound the state store grows forever. Batch parity: the same definition
    * runs on a batch DataFrame (`EliminateEventTimeWatermark` drops the
    * watermark node), asserted in StreamingOpsSpec.
    */
  def conversionPairs(
      events: DataFrame,
      leftType: String = "view",
      rightType: String = "purchase",
      withinSec: Long = 3600,
      watermarkDelay: String = "1 hour"): DataFrame = {
    val v = events.filter(col("event_type") === leftType)
      .withWatermark("ts", watermarkDelay)
      .select(col("user_id"), col("ts").as("view_ts"))
    val p = events.filter(col("event_type") === rightType)
      .withWatermark("ts", watermarkDelay)
      .select(col("user_id").as("p_user"), col("ts").as("purchase_ts"), col("value"))
    v.join(p,
      col("user_id") === col("p_user") &&
        col("purchase_ts") > col("view_ts") &&
        col("purchase_ts") <= col("view_ts") + expr(s"INTERVAL $withinSec SECONDS"))
      .select(col("user_id"), col("view_ts"), col("purchase_ts"), col("value"))
  }

  /** LEFT OUTER variant of [[conversionPairs]]: every view emits exactly
    * once — matched views as soon as the purchase arrives, UNMATCHED views
    * with null purchase columns once the watermark proves no in-window
    * purchase can still arrive. This is the funnel-drop-off stream (who
    * viewed and never bought); inner joins can't produce it, and without
    * the watermark + time-bound condition Spark would have to hold every
    * view forever to know "never". State reclamation contract is identical
    * to the inner form.
    *
    * Operational gotcha (spec-pinned): each side's watermark advances only
    * on events surviving ITS OWN filter, and the query's effective
    * watermark is the MIN across sides — a stream with no recent purchases
    * stalls null emission even while views pour in. Production pipelines
    * keep both branches fed (heartbeat events) or derive one watermark
    * upstream of the split.
    */
  def conversionPairsOuter(
      events: DataFrame,
      leftType: String = "view",
      rightType: String = "purchase",
      withinSec: Long = 3600,
      watermarkDelay: String = "1 hour"): DataFrame = {
    val v = events.filter(col("event_type") === leftType)
      .withWatermark("ts", watermarkDelay)
      .select(col("user_id"), col("ts").as("view_ts"))
    val p = events.filter(col("event_type") === rightType)
      .withWatermark("ts", watermarkDelay)
      .select(col("user_id").as("p_user"), col("ts").as("purchase_ts"), col("value"))
    v.join(p,
      col("user_id") === col("p_user") &&
        col("purchase_ts") > col("view_ts") &&
        col("purchase_ts") <= col("view_ts") + expr(s"INTERVAL $withinSec SECONDS"),
      "left_outer")
      .select(col("user_id"), col("view_ts"), col("purchase_ts"), col("value"))
  }

  /** Streaming as-of join — the streaming twin of
    * `AsofOps.lastEventBefore`: for every `leftType` event, the same
    * user's latest `rightType` event at or before it. Stream-stream as-of
    * is not expressible as a watermarked interval join (the match is
    * "latest prior", not "within a window"), so this is
    * `flatMapGroupsWithState` with EVENT-TIME timeouts and an explicit
    * correctness contract for out-of-order arrival:
    *
    *  - A left event is finalized only once the watermark passes its
    *    timestamp — no earlier-in-event-time right can still arrive — so
    *    results match the batch operator exactly regardless of arrival
    *    order or micro-batch slicing (parity-tested).
    *  - State is bounded: pending lefts live at most the watermark delay;
    *    buffered rights collapse to the single latest right at or below
    *    the watermark (any older right is dominated for every future
    *    left) plus the not-yet-finalizable tail above it.
    *
    * Ties on (user, ts) among rights resolve to the greatest event id —
    * the same `tieBreak` contract as the batch operator.
    */
  def asofJoinStream(
      events: Dataset[StreamIdEvent],
      leftType: String = "view",
      rightType: String = "purchase",
      watermarkDelay: String = "10 minutes"): Dataset[AsofMatch] = {
    import events.sparkSession.implicits._
    events
      .filter(e => e.event_type == leftType || e.event_type == rightType)
      .withWatermark("ts", watermarkDelay)
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.EventTimeTimeout)(
        (user: Long, batch: Iterator[StreamIdEvent], state: GroupState[AsofBuffer]) => {
          val buf0 = state.getOption.getOrElse(AsofBuffer(Nil, Nil))
          val (newL, newR) = batch.partition(_.event_type == leftType)
          val lefts = buf0.lefts ++ newL.map(e => (e.ts.getTime, e.event_id))
          val rights = buf0.rights ++ newR.map(e => (e.ts.getTime, e.event_id))
          val wm = state.getCurrentWatermarkMs()
          // finalize every left the watermark has passed, in event order
          val (ready, pending) = lefts.partition(_._1 <= wm)
          val out = ready.sorted.map { case (lt, lid) =>
            val prior = rights.filter(_._1 <= lt)
            if (prior.isEmpty) AsofMatch(user, lid, lt, -1L, -1L)
            else {
              val (rt, rid) = prior.max // (ts, id): latest, greatest-id tie
              AsofMatch(user, lid, lt, rid, lt - rt)
            }
          }
          // dominated rights (older than the latest one at/below the
          // watermark) can never win for any remaining or future left
          val settled = rights.filter(_._1 <= wm)
          val keptRights =
            (if (settled.nonEmpty) List(settled.max) else Nil) ++ rights.filter(_._1 > wm)
          if (pending.isEmpty && keptRights.isEmpty) state.remove()
          else {
            state.update(AsofBuffer(pending, keptRights))
            // wake when the watermark reaches the oldest pending left or
            // unsettled right (all > wm by construction; the one settled
            // right needs no wake-up — it is already a single cell)
            val wakes = pending.map(_._1) ++ keptRights.filter(_._1 > wm).map(_._1)
            if (wakes.nonEmpty) state.setTimeoutTimestamp(wakes.min)
          }
          out.iterator
        })
  }

  /** Streaming top-k per key — the streaming twin of the batch
    * [[graft.plans.GroupTopK]] operator: the current k best
    * (value desc, event_id asc) rows per key, maintained across
    * micro-batches in `mapGroupsWithState` state that is BOUNDED at k
    * entries per key by construction — the same bounded-heap invariant
    * GroupTopKPartialExec keeps per map task, applied to unbounded time
    * instead of an unbounded scan. A streaming `row_number() <= k` window
    * is not expressible at all (ranks are non-monotonic under late data);
    * the bounded-state merge is the only shape whose state doesn't grow
    * with the stream.
    *
    * Emits each key's FULL current top-k list every batch the key sees
    * data (update semantics — downstream replaces the key's block).
    * Output: (event_type, rank, event_id, value).
    */
  def topKPerKey(events: Dataset[ScoredEvent], k: Int = 3): Dataset[(String, Int, Long, Double)] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.event_type)
      .mapGroupsWithState(GroupStateTimeout.NoTimeout) {
        (key: String, batch: Iterator[ScoredEvent], state: GroupState[TopKBuffer]) =>
          val merged = (state.getOption.map(_.entries).getOrElse(Nil) ++
            batch.map(e => (e.value, e.event_id)))
            .sortBy { case (v, id) => (-v, id) }
            .take(k)
          state.update(TopKBuffer(merged))
          (key, merged)
      }
      .flatMap { case (key, entries) =>
        entries.zipWithIndex.map { case ((v, id), i) => (key, i + 1, id, v) }
      }
  }

  /** Streaming KMV sketch maintenance: per event_type, the k smallest
    * distinct user-id hashes — [[graft.functions.KMinAgg]] as a streaming
    * aggregation, so the per-group STATE is the sketch itself (k longs,
    * constant in distinct users; the same bounded-state argument as
    * [[hllRegisters]], for the sketch family member that can answer
    * distinct-INTERSECTION questions across groups downstream —
    * [[graft.operators.SketchOps.kmvSourceIntersect]]'s estimator applies
    * to any two emitted sketches). Micro-batches fold in by the KMV union
    * (distinct-merge, keep k smallest), so the maintained sketch equals
    * the batch sketch of everything streamed — pinned by the spec.
    *
    * Output per group: (event_type, kmins array). Complete/update sinks
    * replace the group's row each batch.
    */
  def kmvSketchStream(events: DataFrame, k: Int = 64): DataFrame = {
    import events.sparkSession.implicits._
    events
      .select(col("event_type"),
        graft.functions.StableHash.hash60(col("user_id").cast("string")).as("h"))
      .as[(String, Long)]
      .groupByKey(_._1)
      .mapValues(_._2)
      .agg(new graft.functions.KMinAgg(k).toColumn.name("kmins"))
      .toDF("event_type", "kmins")
  }

  /** Streaming MIN/MAX view maintenance under deletes — the
    * `mapGroupsWithState` twin of the batch IVM extrema buffer
    * (`EventOps.extremaState` / `mergeExtremaStates` / `extremaView`,
    * the fourth textbook IVM case): per event_type the state IS the batch
    * summary — the k smallest and k largest distinct bp-values with
    * multiplicities — and each micro-batch's deltas merge by addition,
    * drop at mult ≤ 0, re-truncate to k per side. Identical soundness
    * envelope as batch (spec-pinned parity): deletes of never-buffered
    * values net negative and drop (they sat in the truncated middle); a
    * fully drained side emits None — the recompute signal, never a wrong
    * extreme. State is O(groups · 2k); NoTimeout keeps it for the query
    * lifetime (a production deployment would version epochs and rebuild
    * on drain, exactly as the batch scaladoc prescribes).
    */
  def extremaStream(
      deltas: Dataset[ExtremaDelta], k: Int = 8): Dataset[ExtremaRow] = {
    import deltas.sparkSession.implicits._
    deltas
      .groupByKey(_.event_type)
      .mapGroupsWithState(GroupStateTimeout.NoTimeout)(
        (ty: String, batch: Iterator[ExtremaDelta], state: GroupState[ExtremaBuffer]) => {
          val st = state.getOption.getOrElse(ExtremaBuffer(Nil, Nil))
          val delta = batch.foldLeft(Map.empty[Long, Long]) { (m, d) =>
            m.updated(d.v_bp, m.getOrElse(d.v_bp, 0L) + d.mult)
          }
          def mergeSide(buf: List[(Long, Long)], asc: Boolean): List[(Long, Long)] = {
            val m = collection.mutable.LinkedHashMap(buf: _*)
            delta.foreach { case (v, d) =>
              m.updateWith(v)(prev => Some(prev.getOrElse(0L) + d)): Unit
            }
            val kept = m.toList.filter(_._2 > 0L)
            (if (asc) kept.sortBy(_._1) else kept.sortBy(v => -v._1)).take(k)
          }
          val next = ExtremaBuffer(mergeSide(st.lo, asc = true), mergeSide(st.hi, asc = false))
          state.update(next)
          ExtremaRow(ty, next.lo.headOption.map(_._1), next.hi.headOption.map(_._1))
        })
  }

  /** Streaming exactly-k weighted sampling without replacement — the
    * `mapGroupsWithState` twin of
    * [[graft.operators.SampleOps.prioritySample]] (Duffield-Lund-Thorup
    * priority sampling), maintained per group: the per-group STATE is the
    * sample itself — the k candidates of highest priority
    * `bp(w) · 2^60 div (hash60(id)+1)` — and each micro-batch merges its
    * rows into the buffer and re-truncates. A row's priority is an
    * order-free function of (id, weight), so the maintained sample equals
    * the batch sample over everything streamed so far (spec-pinned
    * parity) — the same per-group-state-IS-the-batch-summary discipline as
    * [[kmvSketchStream]] / [[extremaStream]].
    *
    * The numerator and denominator come from the SAME Catalyst expressions
    * as the batch operator (`TextOps.roundBp`, `StableHash.hash60` in the
    * typed pre-pass — never a JVM re-hash); the merge only re-derives the
    * truncated quotient, and BigInt `/` on positive operands is exactly
    * decimal(38,0) `div`. State is O(groups · k); duplicate ids across
    * batches keep their first-seen row. Output per batch: the group's
    * current ranked sample (update sinks replace it).
    */
  def prioritySampleStream(
      rows: DataFrame,
      groupCol: String,
      idCol: String,
      weightCol: String,
      k: Int = 8): Dataset[PriSampleRow] = {
    import rows.sparkSession.implicits._
    val scale = BigInt(1L << 60)
    // min(Long.MaxValue) mirrors the batch operator's overflow clamp (and
    // the oracle's least(pri, Long.MaxValue)): without it, two overflowed
    // priorities would rank by exact BigInt value here but by the id
    // tie-break in the clamped batch path
    val maxPri = BigInt(Long.MaxValue)
    val ord = Ordering.by[(Long, Long, Long), (BigInt, Long)] {
      case (id, w, h) => ((BigInt(w) * scale / BigInt(h)).min(maxPri), -id)
    }
    rows
      .select(
        col(groupCol).cast("string").as("group"),
        col(idCol).cast("long").as("id"),
        graft.operators.TextOps.roundBp(col(weightCol)).as("w_bp"),
        (graft.functions.StableHash.hash60(col(idCol).cast("string")) + lit(1L)).as("h"))
      .as[PriCand]
      .groupByKey(_.group)
      .mapGroupsWithState(GroupStateTimeout.NoTimeout)(
        (g: String, batch: Iterator[PriCand], state: GroupState[PriBuffer]) => {
          val prev = state.getOption.map(_.rows).getOrElse(Nil)
          val merged = (prev ++ batch.map(c => (c.id, c.w_bp, c.h)))
            .distinctBy(_._1)
            .sorted(ord.reverse)
            .take(k)
          state.update(PriBuffer(merged))
          (g, merged.map(t => (t._1, t._2)))
        })
      .flatMap { case (g, entries) =>
        entries.zipWithIndex.map { case ((id, w), i) => PriSampleRow(g, i + 1, id, w) }
      }
  }

  /** Streaming perceptual near-dup detection — the `mapGroupsWithState`
    * twin of [[graft.operators.MultimodalOps.phashPairs]], extending the
    * incremental-dedup family ([[dedupIngest]] is the exact-hash member)
    * to the media modality, with the same EXACT-DEDUP-FIRST default as the
    * batch operator: per band bucket (`k:v`, one per band of the hash) the
    * state is an [[ExactGroups]] registry of exact-hash groups, not raw
    * items. Cross pairs score the popcount-of-XOR Hamming distance of the
    * two hashes and emit when ≤ `maxDist`; they inherit the group-level
    * distance (Hamming depends only on the hash). Intra (hamming-0) pairs
    * emit ONLY in the hash's band-0 bucket, so each lands once; past the
    * `maxBucket` cap — counted in DISTINCT hashes, the batch cap's unit —
    * a founder is recorded frozen there and dropped in the other bands, so
    * exact-duplicate saturation can no longer kill near-dup recall (the
    * measured ×100 failure mode of raw-item capping) and hamming-0 recall
    * stays unconditional. Within a micro-batch items process id-ascending,
    * so the emitted pair set equals the batch operator's over everything
    * streamed so far, MODULO two documented deltas: a cross pair colliding
    * in several bands is emitted once per shared band (downstream
    * `dropDuplicates(id_a, id_b)` is the dedup), and the cap is
    * arrival-order (spec pins parity uncapped). State is
    * O(buckets · min(distinct-hashes, cap)) hashes plus the band-0
    * exact-dedup registry and member id lists.
    */
  def phashPairsStream(
      items: Dataset[PhashItem],
      maxDist: Int = 6,
      maxBucket: Int = 0): Dataset[PhashPairRow] = {
    import items.sparkSession.implicits._
    phashPairsForgetStream(
      items.map(it => PhashForgetEvent("ingest", it.media_id, it.bands)),
      maxDist, maxBucket)
  }

  /** [[phashPairsStream]] with TAKEDOWN support — the perceptual-media
    * registry made deletable at ingest time (takedown requests name images
    * as often as text). One event stream carries ingests and forgets, each
    * routed to every band bucket of the named hash; [[phashPairsStream]] is
    * this operator fed all-ingest events. The forget rules — rep
    * re-election, purge and re-admission, freed cap slots, takedown winning
    * within a micro-batch — are [[ExactGroups]]'. Retracting published
    * pairs is the downstream batch
    * [[graft.operators.DedupOps.dedupForget]]'s job (q_media_forget).
    */
  def phashPairsForgetStream(
      events: Dataset[PhashForgetEvent],
      maxDist: Int = 6,
      maxBucket: Int = 0): Dataset[PhashPairRow] = {
    import events.sparkSession.implicits._
    events
      .flatMap(it => it.bands.zipWithIndex.map { case (v, k) =>
        PhashBucketItem(s"$k:$v", it.media_id, it.bands, it.op)
      })
      .groupByKey(_.bkey)
      .mapGroupsWithState(GroupStateTimeout.NoTimeout)(
        (bkey: String, batch: Iterator[PhashBucketItem], state: GroupState[PhashBucket]) => {
          val out = List.newBuilder[(Long, Long, Long)]
          // band 0 is the home of intra (hamming-0) pairs, so each is
          // emitted once, and of the frozen over-cap founders they need;
          // elsewhere an over-cap founder is not recorded
          val reg = new ExactGroups[Seq[Long]](
            state.getOption.map(_.groups).getOrElse(Nil), maxBucket,
            home = bkey.startsWith("0:"), intraValue = 0L,
            cross = Some { (a, b) =>
              val d = a.zip(b).map { case (x, y) => java.lang.Long.bitCount(x ^ y).toLong }.sum
              if (d <= maxDist) Some(d) else None
            }, out)
          reg.applyBatch(batch.map(it => (it.op, it.media_id, it.bands)))
          reg.saveTo(state)(PhashBucket(_))
          out.result()
        })
      .flatMap(_.map { case (a, b, d) => PhashPairRow(a, b, d) })
  }

  /** Streaming MinHash-LSH TEXT near-dup detection — the
    * `mapGroupsWithState` twin of
    * [[graft.operators.DedupOps.minhashBandPairs]], the production
    * ingestion-time dedup: the one modality/regime cell the
    * incremental-dedup matrix still lacked (exact text had
    * [[dedupIngest]], perceptual media [[phashPairsStream]], embeddings
    * [[embedNearDupStream]]/[[cellNearDupStream]] — text NEAR-dup only
    * had the batch form).
    *
    * Signature stage (stateless, so it can run on an unbounded stream —
    * the batch `minhashSigs` explode + groupBy-min is a stream-side
    * aggregation and cannot precede stateful pairing): each document's
    * `numHashes` min-hashes compute ROW-LOCALLY with array expressions —
    * distinct word 3-shingles, one md5 ([[graft.functions.StableHash.hash60]])
    * per shingle, the family members derived affinely
    * ([[StableHash.familyOf]]), `array_min` per family member. Same
    * shingle set, same hash family, same mins as the batch signature —
    * only the fold shape differs (per-row Catalyst `transform`/`array_min`
    * vs explode + groupBy), so a doc's signature is bit-identical either
    * way. Docs with no 3-shingle (< 3 tokens) drop, matching their
    * absence from the batch explode.
    *
    * Pairing stage — per band bucket (the band index plus its `r`
    * signature rows) an [[ExactGroups]] registry with the full signature
    * as the exact-group identity. Every collision emits its band: identical
    * signatures share EVERY band in the batch operator, so intra pairs and
    * frozen over-cap founders live in every bucket, and a cross pair emits
    * once per shared band, when its later member arrives in that band's
    * bucket. Uncapped, over any arrival order and micro-batch slicing,
    * `groupBy(id_a, id_b).count()` over the emitted (id_a, id_b, band)
    * events equals the batch operator's (id_a, id_b, n_shared_bands)
    * exactly (spec-pinned). `maxBucket` > 0 is the hot-bucket guard in the
    * registry's arrival-order form, counted in DISTINCT SIGNATURES; the
    * batch cap retro-drops the whole over-cap bucket (`wholesale_drop`), a
    * stream cannot un-emit — the family's capped-mode delta (parity is
    * pinned uncapped). State is O(buckets · min(distinct-sigs, cap))
    * signatures plus member id lists.
    */
  def minhashPairsStream(
      docs: DataFrame,
      idCol: String = "doc_id",
      textCol: String = "text",
      numHashes: Int = 8,
      bands: Int = 4,
      maxBucket: Int = 0): Dataset[MinhashPairRow] = {
    import docs.sparkSession.implicits._
    minhashPairsForgetStream(
      docs.select(lit("ingest").as("op"),
        col(idCol).cast("long").as("doc_id"), col(textCol).as("text"))
        .as[ForgetEvent],
      numHashes, bands, maxBucket)
  }

  /** [[minhashPairsStream]] with TAKEDOWN support — the text near-dup
    * registry made deletable. One event stream carries ingests and
    * forgets, each routed to every band bucket of the named content's
    * signature; [[minhashPairsStream]] is this operator fed all-ingest
    * events. The forget rules — rep re-election, purge and re-admission,
    * freed cap slots, takedown winning within a micro-batch — are
    * [[ExactGroups]]'; band state keeps every member id, so forgets are
    * always exact (unlike [[forgetStream]]'s untracked count). The pinned
    * contract is on future emission: an arrival after a takedown pairs as
    * if the tombstoned docs had never been ingested (spec-pinned against
    * the batch operator over surviving docs, across a checkpoint resume
    * too).
    */
  def minhashPairsForgetStream(
      events: Dataset[ForgetEvent],
      numHashes: Int = 8,
      bands: Int = 4,
      maxBucket: Int = 0): Dataset[MinhashPairRow] = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    import events.sparkSession.implicits._
    val r = numHashes / bands
    val hs = transform(DedupOps.shingleSet(col("text")), sh => StableHash.hash60(sh))
    val sigCol = array((0 until numHashes).map(i =>
      array_min(transform(col("hs"), h => StableHash.familyOf(h, i)))): _*)
    events.toDF()
      .select(col("op"), col("doc_id").cast("long").as("doc_id"), hs.as("hs"))
      .filter(size(col("hs")) > 0)
      .select(col("op"), col("doc_id"), sigCol.as("sig"))
      .as[(String, Long, Seq[Long])]
      .flatMap { case (op, docId, sig) => (0 until bands).map { b =>
        val key = (b.toLong +: (0 until r).map(j => sig(b * r + j))).mkString(":")
        MinhashBucketItem(key, b, docId, sig, op)
      }}
      .groupByKey(_.bkey)
      .mapGroupsWithState(GroupStateTimeout.NoTimeout)(
        (_: String, batch: Iterator[MinhashBucketItem], state: GroupState[MinhashBucket]) => {
          val items = batch.toList
          val band = items.head.band
          val out = List.newBuilder[(Long, Long, Long)]
          // identical signatures share every band, so intra pairs and
          // frozen founders live in every bucket; each collision emits
          // its band (the batch n_shared_bands is the per-pair count)
          val reg = new ExactGroups[Seq[Long]](
            state.getOption.map(_.groups).getOrElse(Nil), maxBucket,
            home = true, intraValue = band,
            cross = Some((_, _) => Some(band.toLong)), out)
          reg.applyBatch(items.iterator.map(it => (it.op, it.doc_id, it.sig)))
          reg.saveTo(state)(MinhashBucket(_))
          out.result()
        })
      .flatMap(_.map { case (a, b, k) => MinhashPairRow(a, b, k.toInt) })
  }

  /** Streaming embedding-cosine near-dup detection — the
    * `mapGroupsWithState` twin of
    * [[graft.operators.SimOps.nearDupPairs]], completing the
    * incremental-dedup family across modalities ([[dedupIngest]] exact
    * text, [[phashPairsStream]] perceptual media, this one embeddings):
    * each arrival lands in its single sign-LSH bucket (the batch
    * operator's `signBucket` over the first `bits` dims, computed
    * executor-side — one bucket per item, no per-band duplication), whose
    * state is an [[ExactGroups]] registry of exact-vector groups. Intra
    * pairs score cos_bp = 10000; cross pairs score the REP-level cosine
    * (identical vectors, identical dot: the batch member-re-attach rule)
    * at the double-exact batch arithmetic (float-elem dots accumulated
    * left-to-right, `floor(c·10⁴ + 0.5)` — bit-identical to `vec_dot` +
    * `roundBp`) and emit when ≥ `thresholdBp`. Over any batch slicing the
    * emitted pair set equals the UNCAPPED batch operator's (spec-pinned
    * parity); `maxBucket` > 0 is the registry's arrival-order cap, vs the
    * batch's id-rank participation cap (the family's documented delta).
    * `bits` is pinned per stream — a stream cannot re-shard its key space
    * mid-flight; production re-buckets offline with [[rebucketRegistry]]
    * (`SimOps.autoSignBits` of the current registry → rebuilt per-bucket
    * state → resume via `initialState`) when the registry outgrows the
    * space. State: one entry per distinct vector per bucket + member id
    * lists; the cross loop is O(bucket's distinct corpus) uncapped.
    */
  def embedNearDupStream(
      items: Dataset[EmbedItem],
      thresholdBp: Int = 4000,
      bits: Int = 4,
      maxBucket: Int = 0,
      initialState: Option[Dataset[(Int, EmbedBucket)]] = None): Dataset[EmbedPairRow] = {
    import items.sparkSession.implicits._
    embedForgetStream(
      items.map(it => EmbedForgetEvent("ingest", it.vec_id, it.embedding)),
      thresholdBp, bits, maxBucket, initialState)
  }

  /** [[embedNearDupStream]] with TAKEDOWN support — the EMBEDDING
    * streaming registry made deletable, mirroring the batch forget trio
    * (q_dedup_forget / q_media_forget / q_embed_forget). One event stream
    * carries ingests and forgets, each routed to the vector's single
    * sign-LSH bucket; [[embedNearDupStream]] is this operator fed
    * all-ingest events. The forget rules — rep re-election, purge and
    * re-admission, freed cap slots, takedown winning within a micro-batch
    * — are [[ExactGroups]]'. Retracting published pairs is batch
    * [[graft.operators.DedupOps.dedupForget]]'s job (q_embed_forget).
    */
  def embedForgetStream(
      events: Dataset[EmbedForgetEvent],
      thresholdBp: Int = 4000,
      bits: Int = 4,
      maxBucket: Int = 0,
      initialState: Option[Dataset[(Int, EmbedBucket)]] = None): Dataset[EmbedPairRow] = {
    import events.sparkSession.implicits._
    def bucketOf(e: Seq[Float]): Int =
      (0 until math.min(bits, e.length)).map(i => if (e(i) >= 0f) 1 << i else 0).sum
    embedGroupsStream(events.sparkSession, events.groupByKey(it => bucketOf(it.embedding)),
      thresholdBp, maxBucket, (_: Int) => true, initialState)
  }

  /** Streaming CELL-GEOMETRY near-dup detection — the loose-threshold
    * twin of [[embedNearDupStream]], completing the sign-LSH →
    * cell-geometry handoff in the streaming column: the batch family's
    * measured law (SKEW r14) is that random-hyperplane buckets collapse
    * at moderate cosine as corpus-derived bits grow, while
    * nearest-centroid co-location holds recall at constant cell
    * granularity — so an incremental dedup targeting cos ≥ ~0.40 keys its
    * state by CELL, not by sign bucket. Each arrival is assigned
    * executor-side to its nearest centroid from a PINNED snapshot
    * (`centroids`, c_id-ascending argmax with strict `>` — exactly
    * `SimOps.cellArgmax`'s tie-break), and each cell's state is the
    * [[embedNearDupStream]] registry, scored the same way (intra pairs at
    * 10000 bp, cross pairs at the rep-level double-exact cosine ≥
    * `thresholdBp`, `maxCell` the [[ExactGroups]] cap).
    *
    * The snapshot is pinned for the stream's lifetime for the same
    * reason [[embedNearDupStream]] pins `bits`: a stream cannot re-shard
    * its key space mid-flight. Production re-centroids OFFLINE:
    * [[recellRegistry]] rebuilds the per-cell state from the ingested
    * registry at a NEW snapshot and the stream resumes via
    * `initialState` — the [[rebucketRegistry]] path, cell-keyed.
    *
    * Parity (spec-pinned): uncapped, over any arrival order and
    * micro-batch slicing, the emitted pair set equals the uncapped batch
    * `SimOps.cellNearDupPairs` (flat, probes = 1) at the same centroid
    * set — each unordered co-cell pair ≥ `thresholdBp` lands exactly once
    * when its later member arrives. NON-ASSIGNABLE vectors (no finite
    * centroid similarity — e.g. zero-norm) key to the RESERVED −1 cell,
    * whose state emits exact-duplicate intra pairs only (its cross loop
    * never runs): the batch operator emits intra pairs from the
    * exact-dedup registry unconditionally but drops non-assignable
    * vectors before cell pairing, and the reserved key reproduces both
    * halves — parity holds for every vector, assignable or not.
    *
    * [[cellNearDupStreamHier]] is the TWO-LEVEL twin — same pair
    * semantics under `SimOps.cellArgmaxHier`'s keying, with the snapshot
    * payload distributed through sc-keyed state instead of this flat
    * path's full-snapshot closure (which is the flat fold's honest
    * shape: flat keying IS an O(nlist·d) scan per arrival, so the flat
    * stream, like the flat batch fold, is for nlist well short of 1M).
    */
  def cellNearDupStream(
      items: Dataset[EmbedItem],
      centroids: Seq[(Long, Seq[Float])],
      thresholdBp: Int = 4000,
      maxCell: Int = 0,
      initialState: Option[Dataset[(Long, EmbedBucket)]] = None): Dataset[EmbedPairRow] = {
    import items.sparkSession.implicits._
    cellForgetStream(
      items.map(it => EmbedForgetEvent("ingest", it.vec_id, it.embedding)),
      centroids, thresholdBp, maxCell, initialState)
  }

  /** [[cellNearDupStream]] with TAKEDOWN support — the CELL-GEOMETRY
    * embedding registry made deletable. One event stream carries ingests
    * and forgets, each routed to the vector's cell; [[cellNearDupStream]]
    * is this operator fed all-ingest events. The forget rules are
    * [[ExactGroups]]'; the cluster repair downstream is batch
    * q_embed_forget's job.
    */
  def cellForgetStream(
      events: Dataset[EmbedForgetEvent],
      centroids: Seq[(Long, Seq[Float])],
      thresholdBp: Int = 4000,
      maxCell: Int = 0,
      initialState: Option[Dataset[(Long, EmbedBucket)]] = None): Dataset[EmbedPairRow] = {
    import events.sparkSession.implicits._
    val keyOf = cellKeyFn(centroids)
    val keyed = events
      .map(it => (keyOf(it.embedding), it))
      .groupByKey(_._1)
      .mapValues(_._2)
    // the reserved -1 cell (non-assignable vectors) skips cross pairing:
    // its similarities are non-finite, and batch drops these vectors
    // before pairing (intra emission still runs)
    embedGroupsStream(events.sparkSession, keyed, thresholdBp, maxCell,
      (cell: Long) => cell >= 0, initialState)
  }

  /** The [[EmbedBucket]]-state stream [[embedForgetStream]] and
    * [[cellForgetStream]] share: one [[ExactGroups]] registry per key
    * ([[embedGroups]]); keys where `crosses` is false never cross-pair.
    * `initialState` seeds the per-key registries (the offline rebuilds).
    */
  private def embedGroupsStream[K: org.apache.spark.sql.Encoder](
      spark: org.apache.spark.sql.SparkSession,
      keyed: org.apache.spark.sql.KeyValueGroupedDataset[K, EmbedForgetEvent],
      thresholdBp: Int,
      cap: Int,
      crosses: K => Boolean,
      initialState: Option[Dataset[(K, EmbedBucket)]]): Dataset[EmbedPairRow] = {
    import spark.implicits._
    val update = (key: K, batch: Iterator[EmbedForgetEvent], state: GroupState[EmbedBucket]) => {
      val out = List.newBuilder[(Long, Long, Long)]
      val reg = embedGroups(state.getOption.getOrElse(EmbedBucket(Nil)),
        cap, thresholdBp, crosses(key), out)
      reg.applyBatch(batch.map(it => (it.op, it.vec_id, (it.embedding, normF(it.embedding)))))
      reg.saveTo(state)(embedBucket)
      out.result()
    }
    (initialState match {
      case Some(init) => keyed.mapGroupsWithState(
        GroupStateTimeout.NoTimeout,
        init.groupByKey(_._1).mapValues(_._2))(update)
      case None => keyed.mapGroupsWithState(GroupStateTimeout.NoTimeout)(update)
    })
      .flatMap(_.map { case (a, b, c) => EmbedPairRow(a, b, c) })
  }

  /** An [[EmbedBucket]] as an [[ExactGroups]] registry: content is
    * (embedding, norm), identified by the embedding; intra pairs score
    * 10000 bp, cross pairs the rep-level cosine — double-exact batch
    * arithmetic ([[dotF]], [[bpOf]]), kept when ≥ `thresholdBp`.
    */
  private def embedGroups(
      b: EmbedBucket,
      cap: Int,
      thresholdBp: Int,
      crosses: Boolean,
      out: scala.collection.mutable.Builder[(Long, Long, Long), _]
  ): ExactGroups[(Seq[Float], Double)] =
    new ExactGroups[(Seq[Float], Double)](
      b.groups.map { case (rep, e, n, members, frozen) => (rep, (e, n), members, frozen) },
      cap, home = true, intraValue = 10000L,
      cross = if (!crosses) None else Some { case ((e, n), (oe, on)) =>
        Some(bpOf(dotF(e, oe) / (n * on))).filter(_ >= thresholdBp)
      }, out, key = _._1)

  private def embedBucket(
      groups: List[(Long, (Seq[Float], Double), List[Long], Boolean)]): EmbedBucket =
    EmbedBucket(groups.map { case (rep, (e, n), members, frozen) => (rep, e, n, members, frozen) })

  /** TWO-LEVEL streaming cell near-dup — [[cellNearDupStream]]'s pair
    * semantics under the HIERARCHICAL quantizer's keying
    * (`SimOps.cellArgmaxHier` at superProbes = 1: same stride rule, same
    * strict-`>`/c_id-asc tie-breaks at both levels), restructured so that
    * NO task ever holds the full centroid snapshot — the batch family's
    * r16 memory bound (per-task O(√nlist·d)) carried to the stream:
    *
    *  - arrivals key by SUPERCELL: the per-arrival closure captures only
    *    the ≈√nlist-entry supercenter array ([[centSnapshotHier]]'s
    *    `sups` — exactly the one broadcast the batch path keeps);
    *  - each supercell's ≈√nlist-entry centroid BLOCK rides the
    *    DISTRIBUTED initial state ([[HierCellState]]), partitioned across
    *    the state store by sc_id — the streaming mirror of the batch
    *    sc_id shuffle join, paid once at stream start instead of per
    *    micro-batch;
    *  - the stateful update assigns each arrival to its in-block cell
    *    (strict `>`, c_id-asc — [[nearestCellHier]]'s second level) and
    *    ingests it into that cell's [[ExactGroups]] registry, scored as
    *    in [[cellNearDupStream]], inside the supercell's state (pairs
    *    only ever form within a cell, so co-locating a supercell's cells
    *    changes no pair). The stream is ingest-only, and an id already a
    *    member of ANY cell of the supercell is ignored.
    *
    * State checkpoint cost per TOUCHED key per micro-batch is the key's
    * block + registries (O(√nlist·d + ingested)); untouched keys are not
    * rewritten. Parity (spec-pinned): uncapped, over any arrival order
    * and micro-batch slicing, the emitted pair set equals uncapped batch
    * `SimOps.cellNearDupPairs(hier = true)` at the same snapshot; the
    * reserved −1 key (non-assignable arrivals — no finite supercenter
    * similarity) emits exact-dup intra pairs only, the flat stream's
    * contract. Resume after an offline re-centroid via
    * [[recellRegistryHier]] + `initialState`; a fresh stream builds the
    * block-only initial state from the snapshot itself.
    */
  def cellNearDupStreamHier(
      items: Dataset[EmbedItem],
      centroids: Seq[(Long, Seq[Float])],
      thresholdBp: Int = 4000,
      maxCell: Int = 0,
      initialState: Option[Dataset[(Long, HierCellState)]] = None): Dataset[EmbedPairRow] = {
    val index = hierIndexOf(items.sparkSession, centroids)
    cellNearDupStreamHier(items, initialState.fold(index)(s => index.copy(state = s)),
      thresholdBp, maxCell)
  }

  /** [[cellNearDupStreamHier]] from a pre-built [[HierStreamIndex]] —
    * the megacell entry: the snapshot never exists as a driver Seq
    * (build the index with [[hierStreamIndex]] from a centroid DATASET;
    * resume by passing a [[recellRegistryHier]]-rebuilt state inside
    * the index instead of the block-only one).
    */
  def cellNearDupStreamHier(
      items: Dataset[EmbedItem],
      index: HierStreamIndex,
      thresholdBp: Int,
      maxCell: Int): Dataset[EmbedPairRow] = {
    import items.sparkSession.implicits._
    // the closures capture the sup array, never the index's Dataset
    val sups = index.sups
    val keyed = items
      .map(it => (nearestCell(sups, it.embedding), it))
      .groupByKey(_._1)
      .mapValues(_._2)
    val update =
        (sc: Long, batch: Iterator[EmbedItem], state: GroupState[HierCellState]) => {
          val st = state.getOption.getOrElse(HierCellState(Nil, Nil))
          val block = st.block.toIndexedSeq
          val out = List.newBuilder[(Long, Long, Long)]
          // one flat-discipline registry per cell of this supercell; an id
          // is a member of the supercell whichever cell holds it
          val cells = scala.collection.mutable.LinkedHashMap.empty[
            Long, ExactGroups[(Seq[Float], Double)]]
          st.cells.foreach { case (c, b) =>
            cells(c) = embedGroups(b, maxCell, thresholdBp, c >= 0, out)
          }
          batch.toList.sortBy(_.vec_id).foreach { it =>
            if (!cells.valuesIterator.exists(_.contains(it.vec_id))) {
              val cell = if (sc < 0) -1L else nearestCell(block, it.embedding)
              cells.getOrElseUpdate(cell,
                embedGroups(EmbedBucket(Nil), maxCell, thresholdBp, cell >= 0, out))
                .ingest(it.vec_id, (it.embedding, normF(it.embedding)))
            }
          }
          state.update(HierCellState(st.block,
            cells.toList.map { case (c, g) => (c, embedBucket(g.groups)) }.sortBy(_._1)))
          out.result()
        }
    keyed.mapGroupsWithState(
        GroupStateTimeout.NoTimeout,
        index.state.groupByKey(_._1).mapValues(_._2))(update)
      .flatMap(_.map { case (a, b, c) => EmbedPairRow(a, b, c) })
  }

  /** The [[HierStreamIndex]] of a driver-side centroid Seq: the
    * [[centSnapshotHier]] supercenters, and its blocks as block-only
    * [[HierCellState]] rows, one per supercell, serialized from the driver
    * ONCE into a distributed dataset (the snapshot Seq already lives on
    * the driver as the call's argument; what the sc keying buys is that
    * no EXECUTOR ever materializes more than its partitions' blocks).
    */
  private def hierIndexOf(
      spark: org.apache.spark.sql.SparkSession,
      centroids: Seq[(Long, Seq[Float])]): HierStreamIndex = {
    import spark.implicits._
    val snap = centSnapshotHier(centroids)
    HierStreamIndex(snap.sups, spark.createDataset(snap.blocks.toSeq.map { case (sc, ms) =>
      (sc, HierCellState(ms.toList, Nil))
    }))
  }

  /** FULLY DISTRIBUTED [[HierStreamIndex]] construction from a centroid
    * DATASET (c_id, embedding) — the entry for snapshots too large for a
    * driver Seq (the batch megacell regime: 1M+ centroids): the driver
    * materializes ONLY the ≈√nlist stride rows (`SimOps.superCents`: an
    * id-hash predicate — stateless per row, no global rank — plus a
    * 1-row min() broadcast as the non-empty guard), and the block-only
    * state is one map (sc via the sup-array closure, O(√nlist·d)) plus
    * one groupByKey shuffle. Spec-pinned identical to the driver-side
    * [[centSnapshotHier]] construction: same `SimOps.superStride` stride,
    * same strict-`>` / c_id-asc sup assignment, same c_id-asc block order,
    * zero-norm centroids dropped from blocks.
    */
  def hierStreamIndex(
      centroids: Dataset[(Long, Seq[Float])]): HierStreamIndex = {
    import centroids.sparkSession.implicits._
    val sups = centSnapshot(
      SimOps.superCents(centroids.toDF("c_id", "ce"), centroids.count())
        .as[(Long, Seq[Float])].collect().toSeq)
    val state = centroids
      .map { case (c, e) => (nearestCell(sups, e), (c, e, normF(e))) }
      .filter(_._1 >= 0L)
      .groupByKey(_._1)
      .mapGroups { (sc, ms) =>
        (sc, HierCellState(ms.map(_._2).toList.sortBy(_._1), Nil))
      }
    HierStreamIndex(sups, state)
  }

  /** OFFLINE re-centroid of [[cellNearDupStreamHier]]'s registry — the
    * [[recellRegistry]] contract under two-level keying: rebuild the
    * exact-dedup groups from the ingested corpus, key each group by its
    * SUPERCELL (the ≈√nlist-entry `sups` array is the only closure
    * payload), then COGROUP with the block-only state so each group's
    * in-block cell is computed against a block that arrived through the
    * dataset side — per-task memory O(√nlist·d), the same bound as the
    * stream it feeds. Supercells with no ingested groups still emit their
    * block-only row (a resumed stream needs every block); non-assignable
    * groups pack under the reserved −1 key with an empty block.
    */
  def recellRegistryHier(
      items: Dataset[EmbedItem],
      centroids: Seq[(Long, Seq[Float])]): Dataset[(Long, HierCellState)] =
    recellRegistryHier(items, hierIndexOf(items.sparkSession, centroids))

  /** [[recellRegistryHier]] against a [[hierStreamIndex]]-built snapshot
    * — the megacell resume path: registry rebuild and block attachment
    * both distributed, the ≈√nlist sup array the only driver payload.
    */
  def recellRegistryHier(
      items: Dataset[EmbedItem],
      index: HierStreamIndex): Dataset[(Long, HierCellState)] = {
    import items.sparkSession.implicits._
    // the closure captures the sup array, never the index's Dataset
    val sups = index.sups
    val groupsBySc = exactGroupsOf(items).map(g => (nearestCell(sups, g._2), g))
    groupsBySc.groupByKey(_._1)
      .cogroup(index.state.groupByKey(_._1)) { (sc, gs, bs) =>
        val st = bs.toSeq.headOption.map(_._2).getOrElse(HierCellState(Nil, Nil))
        val block = st.block.toIndexedSeq
        val cells = gs.map(_._2).toList
          .map(g => ((if (sc < 0) -1L else nearestCell(block, g._2)), g))
          .groupBy(_._1)
          .map { case (c, xs) => (c, EmbedBucket(xs.map(_._2).sortBy(_._1))) }
          .toList.sortBy(_._1)
        Iterator.single((sc, HierCellState(st.block, cells)))
      }
  }

  /** OFFLINE re-centroid of [[cellNearDupStream]]'s registry — the
    * [[rebucketRegistry]] path with the key space being a CENTROID
    * SNAPSHOT instead of a sign-bit width: rebuild the exact-dedup groups
    * from the ingested corpus (rep = min id, members id-ascending), assign
    * each group's embedding to its nearest NEW centroid executor-side
    * (the same strict-`>` c_id-ascending argmax the stream keys by), and
    * pack per-cell [[EmbedBucket]]s rep-ascending. A stream resumed from
    * this state emits exactly the pairs a fresh batch run at the new
    * snapshot emits for pairs involving subsequent arrivals. Distributed
    * end to end — the registry never visits the driver. Non-assignable
    * groups pack under the reserved −1 key (the [[cellNearDupStream]]
    * contract), so a resumed stream still recognizes their exact
    * duplicates. [[recellRegistryHier]] is the two-level form.
    */
  def recellRegistry(
      items: Dataset[EmbedItem],
      centroids: Seq[(Long, Seq[Float])]): Dataset[(Long, EmbedBucket)] = {
    import items.sparkSession.implicits._
    val keyOf = cellKeyFn(centroids)
    exactGroupsOf(items)
      .map(g => (keyOf(g._2), g))
      .groupByKey(_._1)
      .mapGroups { (cell, gs) =>
        (cell, EmbedBucket(gs.map(_._2).toList.sortBy(_._1)))
      }
  }

  /** The per-arrival FLAT cell-keying function [[cellNearDupStream]] and
    * [[recellRegistry]] share: an O(nlist) scan whose closure carries the
    * full snapshot — the flat fold's honest shape (flat keying reads
    * every centroid per arrival, so the payload is the work). The
    * two-level family ([[cellNearDupStreamHier]]) does NOT use this: its
    * closures carry only the √nlist supercenter array, with blocks
    * distributed through sc-keyed state.
    */
  private def cellKeyFn(
      centroids: Seq[(Long, Seq[Float])]): Seq[Float] => Long = {
    val cents = centSnapshot(centroids)
    e => nearestCell(cents, e)
  }

  /** c_id-ascending centroid snapshot with precomputed norms — the pinned
    * key space [[cellNearDupStream]] and [[recellRegistry]] share.
    */
  private def centSnapshot(
      centroids: Seq[(Long, Seq[Float])]): IndexedSeq[(Long, Seq[Float], Double)] =
    centroids.sortBy(_._1).map { case (c, e) => (c, e, normF(e)) }.toIndexedSeq

  /** Nearest centroid by cosine over the snapshot — strict `>` with
    * c_id-ascending iteration reproduces `SimOps.cellArgmax`'s
    * (csim desc, c_id asc) selection; a NaN similarity never passes the
    * `>` test, so a vector with no finite similarity returns −1 (the
    * batch fold's dropped-row contract).
    */
  private def nearestCell(
      cents: IndexedSeq[(Long, Seq[Float], Double)], e: Seq[Float]): Long = {
    val en = normF(e)
    var best = -1L
    var bs = Double.NegativeInfinity
    var i = 0
    while (i < cents.length) {
      val (c, ce, cn) = cents(i)
      val s = dotF(e, ce) / (en * cn)
      if (s > bs) { bs = s; best = c }
      i += 1
    }
    best
  }

  /** TWO-LEVEL centroid snapshot — `SimOps.cellArgmaxHier`'s construction
    * mirrored driver-side: the `SimOps.superCents` rule picks the
    * supercenters (id-hash on the `SimOps.superStride` stride, plus the
    * min c_id), and each centroid joins the block of its
    * nearest supercenter (strict `>`, c_id-asc — [[nearestCell]] over the
    * supercenter array, exactly batch c2s). A centroid with no finite
    * supercenter similarity (zero-norm) joins NO block — batch drops it
    * from c2s, and no vector can select it anyway (its similarity is
    * never finite). Blocks keep c_id-ascending member order, so the
    * in-block scan's tie-break matches the batch fold's.
    */
  private[graft] final case class HierSnapshot(
      sups: IndexedSeq[(Long, Seq[Float], Double)],
      blocks: Map[Long, IndexedSeq[(Long, Seq[Float], Double)]])

  private[graft] def centSnapshotHier(
      centroids: Seq[(Long, Seq[Float])]): HierSnapshot = {
    val all = centSnapshot(centroids)
    val per = SimOps.superStride(all.length)
    // SimOps.superCents' rule on the driver: id-hash lands on the stride
    // (SimOps.superStride), plus the min c_id as the non-empty guard —
    // all is c_id-ascending, so head carries the min
    val minId = all.headOption.map(_._1).getOrElse(Long.MinValue)
    val sups = all.filter(c =>
      graft.functions.StableHash.hash60Jvm(c._1.toString) % per == 0 || c._1 == minId)
    val blocks = all
      .map(c => (nearestCell(sups, c._2), c))
      .filter(_._1 >= 0L)
      .groupBy(_._1)
      .map { case (sc, cs) => sc -> cs.map(_._2).sortBy(_._1) }
    HierSnapshot(sups, blocks)
  }

  /** Nearest centroid via the two-level snapshot — O(√nlist) similarity
    * evaluations per arrival (supercenter scan + one block scan) instead
    * of [[nearestCell]]'s O(nlist), with identical strict-`>`/c_id-asc
    * tie-breaks at both levels: equals `SimOps.cellArgmaxHier`
    * (superProbes = 1) on every vector, and equals the flat scan wherever
    * the vector's true nearest cell lives in its nearest supercenter's
    * block (the standard hierarchical-IVF approximation; spec-pinned on
    * the parity fixtures).
    */
  private[graft] def nearestCellHier(
      snap: HierSnapshot, e: Seq[Float]): Long = {
    val sc = nearestCell(snap.sups, e)
    if (sc < 0) -1L
    else snap.blocks.get(sc).map(nearestCell(_, e)).getOrElse(-1L)
  }

  /** Left-to-right float-element dot — bit-identical to the batch
    * `vec_dot` accumulation ([[embedNearDupStream]]'s parity rule).
    */
  private def dotF(a: Seq[Float], b: Seq[Float]): Double = {
    var s = 0.0; var i = 0
    val n = math.min(a.length, b.length)
    while (i < n) { s += a(i).toDouble * b(i).toDouble; i += 1 }
    s
  }

  /** L2 norm by [[dotF]]. */
  private def normF(e: Seq[Float]): Double = math.sqrt(dotF(e, e))

  /** `floor(c·10⁴ + 0.5)` — the batch `roundBp` rule. */
  private def bpOf(c: Double): Long = math.floor(c * 10000.0 + 0.5).toLong

  /** OFFLINE re-shard of [[embedNearDupStream]]'s registry — the
    * production answer to "a stream cannot re-shard its key space
    * mid-flight": export the ingested corpus (the exact-dedup registry an
    * incremental dedup keeps anyway), derive the new width with
    * `SimOps.autoSignBits`, and rebuild the per-bucket state at that
    * width; a stream resumed FROM this state (the `initialState`
    * parameter) emits, for every subsequent arrival, exactly the pairs a
    * fresh batch run at the new width emits for pairs involving that
    * arrival (spec-pinned: resumed-stream output = uncapped batch pairs
    * of the full corpus minus batch pairs of the already-registered
    * corpus — old-vs-old pairs are never re-emitted, old-vs-new and
    * new-vs-new land exactly once).
    *
    * Shape: one groupBy(embedding) rebuilds the exact-dedup groups
    * (rep = min id, members id-ascending — deterministic regardless of
    * the original arrival order), one groupBy(bucket) packs them
    * rep-ascending into [[EmbedBucket]]s; norms recompute in the packing
    * map (cheaper to recompute than to ship). Distributed end to end —
    * the state never visits the driver.
    */
  def rebucketRegistry(
      items: Dataset[EmbedItem], bits: Int): Dataset[(Int, EmbedBucket)] = {
    import items.sparkSession.implicits._
    exactGroupsOf(items).toDF("rep", "e", "norm", "members", "frozen")
      .select(
        graft.operators.SimOps.signBucket(col("e"), bits).cast("int").as("bucket"),
        struct(col("rep"), col("e"), col("norm"), col("members"), col("frozen")).as("g"))
      .groupBy(col("bucket"))
      .agg(sort_array(collect_list(col("g"))).as("gs"))
      .as[(Int, List[(Long, Seq[Float], Double, List[Long], Boolean)])]
      .map { case (b, gs) => (b, EmbedBucket(gs)) }
  }

  /** The exact-dedup groups of an ingested corpus, rebuilt offline for
    * [[rebucketRegistry]], [[recellRegistry]] and [[recellRegistryHier]]:
    * one unfrozen group per distinct embedding, rep = min id, members
    * id-ascending (deterministic whatever the original arrival order), norm
    * by [[normF]] (cheaper to recompute than to ship).
    */
  private def exactGroupsOf(
      items: Dataset[EmbedItem]): Dataset[(Long, Seq[Float], Double, List[Long], Boolean)] = {
    import items.sparkSession.implicits._
    items.toDF()
      .groupBy(col("embedding"))
      .agg(min(col("vec_id")).as("rep"),
        sort_array(collect_list(col("vec_id"))).as("members"))
      .select(col("rep"), col("embedding"), col("members"))
      .as[(Long, Seq[Float], List[Long])]
      .map { case (rep, e, members) => (rep, e, normF(e), members, false) }
  }

  /** Streaming user-journey transitions — the WATERMARK-BOUND twin of
    * `EventOps.typeTransitions`' lag half, with the same disorder
    * contract as [[asofJoinStream]] (not the in-order-arrival assumption
    * r12's version documented): per user the state buffers events still
    * ABOVE the watermark plus the last finalized tail, and an event emits
    * its (from_type, to_type) lag pair only once the watermark passes its
    * timestamp — no earlier-in-event-time event can still arrive — so the
    * finalized chain is the true (ts, event_id)-ordered timeline and the
    * emitted pair multiset equals the batch lag pairs regardless of
    * arrival order or micro-batch slicing (parity spec shuffles the SAME
    * events across batch boundaries). State is one tail row plus at most
    * the watermark horizon's worth of pending events per user; an
    * event-time timeout flushes pending events when the watermark moves
    * with no new data for the user. The |types|²-sized matrix itself
    * (counts + row shares) is recomputed from the emitted pair stream by
    * `EventOps.transitionMatrix` — grid-sized work per refresh, raw
    * events never re-read (the [[hourlySumsStream]] maintenance split,
    * spec-pinned parity).
    */
  def typeTransitionsStream(
      events: Dataset[StreamIdEvent],
      watermarkDelay: String = "10 minutes"): Dataset[TransitionRow] = {
    import events.sparkSession.implicits._
    def micros(t: java.sql.Timestamp): Long =
      t.toInstant.getEpochSecond * 1000000L + t.toInstant.getNano / 1000L
    events
      .withWatermark("ts", watermarkDelay)
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.EventTimeTimeout)(
        (user: Long, batch: Iterator[StreamIdEvent], state: GroupState[TransitBuffer]) => {
          val buf0 = state.getOption.getOrElse(TransitBuffer(None, Nil))
          val pending = buf0.pending ++
            batch.map(e => LastTyped(micros(e.ts), e.event_id, e.event_type))
          val wmMs = state.getCurrentWatermarkMs()
          // finalize every event the watermark has passed, in the batch
          // operator's window order (ts, event_id)
          val (ready, still) = pending.partition(_.ts_us <= wmMs * 1000L)
          var tail = buf0.tail
          val out = List.newBuilder[TransitionRow]
          ready.sortBy(e => (e.ts_us, e.event_id)).foreach { e =>
            tail.foreach(l => out += TransitionRow(user, l.tpe, e.tpe))
            tail = Some(e)
          }
          if (still.isEmpty && tail.isEmpty) state.remove()
          else {
            state.update(TransitBuffer(tail, still))
            // wake when the watermark reaches the oldest pending event
            if (still.nonEmpty)
              state.setTimeoutTimestamp(
                math.max(wmMs + 1, still.map(_.ts_us).min / 1000L))
          }
          out.result().iterator
        })
  }

  /** Streaming half of the gap-fill/EWMA maintenance loop — the streaming
    * twin of `EventOps.ewmaHourly`, split exactly where the batch operator
    * is ([[graft.operators.EventOps.hourlySums]] /
    * [[graft.operators.EventOps.ewmaFromHourly]]): `hourlySums` itself,
    * run over the stream in update mode, keeps the per-(type, hour)
    * bp-sums in STREAMING state (one
    * long per touched grid cell — grid-sized, not event-sized; a watermark
    * bounds it to the late-data horizon in production) and each micro-batch
    * emits the recomputed totals of exactly the cells the batch touched.
    *
    * A `foreachBatch` consumer upserts those cells into the maintained
    * hourly table ([[upsertGridCells]]) and recomputes the EWMA view with
    * `EventOps.ewmaFromHourly` — grid-sized work per batch, raw events
    * never re-read. Because the cell sums are integer (bp-quantized) and
    * a cell's emitted total is the full re-aggregated value (not a delta),
    * the maintained table equals the batch [[graft.operators.EventOps.hourlySums]]
    * of everything streamed so far regardless of arrival order or batch
    * slicing, and the recomputed view equals batch `ewmaHourly` exactly —
    * (ewma_num, ewma_den) rationals and all (spec-pinned parity).
    */
  def hourlySumsStream(events: DataFrame, watermarkDelay: Option[String] = None): DataFrame =
    EventOps.hourlySums(watermarkDelay.fold(events)(events.withWatermark("ts", _)))

  /** Streaming half of the seasonal-baseline maintenance loop — the twin of
    * `EventOps.seasonalProfile`, split exactly where the batch operator is
    * (`EventOps.seasonalSums` / `EventOps.seasonalFromSums`):
    * `seasonalSums` itself, run in update mode, keeps the per-(type,
    * hour-of-day 0–23)
    * (n_events, Σv_bp) cells in streaming state — ≤ 24·|types| cells, a
    * compile-time-bounded grid, never event-volume — and each micro-batch
    * emits the re-aggregated totals of the touched cells. A `foreachBatch`
    * consumer upserts them ([[upsertGridCells]]' keying generalizes) and
    * recomputes the profile with `EventOps.seasonalFromSums` — grid-sized
    * work per refresh, raw events never re-read. Cell sums are exact
    * integers and emitted values are full re-aggregations (not deltas), so
    * the maintained table equals batch [[graft.operators.EventOps.seasonalSums]]
    * of everything streamed regardless of arrival order or batch slicing,
    * and the recomputed profile equals batch `seasonalProfile` exactly
    * (spec-pinned parity).
    */
  def seasonalSumsStream(events: DataFrame): DataFrame =
    EventOps.seasonalSums(events)

  /** Replace-by-key upsert of updated (event_type, bucket, v_bp) cells into
    * the maintained hourly table — the grid half of the gap-fill/EWMA
    * maintenance loop. Anti-join out the stale versions of the touched
    * cells, union the fresh ones; both sides are grid-sized.
    */
  def upsertGridCells(grid: DataFrame, updates: DataFrame): DataFrame =
    grid.join(updates.select(col("event_type"), col("bucket")),
        Seq("event_type", "bucket"), "left_anti")
      .unionByName(updates)

  /** Streaming gap sessionization via `flatMapGroupsWithState` with
    * EVENT-TIME timeouts: the streaming twin of `EventOps.sessionStats`.
    * A user's events extend their open session; when the watermark passes
    * session end + gap, the timeout fires and the closed session is
    * emitted downstream (append mode — each session exactly once).
    *
    * State is one `OpenSession` per active user, reclaimed on close, so
    * the store is bounded by concurrently-active users. Within one
    * micro-batch, events are folded in timestamp order and a batch-internal
    * gap closes the open session immediately (emitted that batch).
    */
  def sessionize(
      events: Dataset[StreamEvent],
      gapMs: Long = 30L * 60 * 1000,
      watermarkDelay: String = "10 minutes"): Dataset[ClosedSession] = {
    import events.sparkSession.implicits._
    events
      .withWatermark("ts", watermarkDelay)
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.EventTimeTimeout)(
        (user: Long, batch: Iterator[StreamEvent], state: GroupState[OpenSession]) => {
          if (state.hasTimedOut) {
            val s = state.get
            state.remove()
            Iterator.single(ClosedSession(user, s.start, s.end, s.n))
          } else {
            val times = batch.map(_.ts.getTime).toArray.sorted
            var open = state.getOption
            val closed = Seq.newBuilder[ClosedSession]
            times.foreach { t =>
              open match {
                case Some(s) if t - s.end <= gapMs =>
                  open = Some(s.copy(end = math.max(s.end, t), n = s.n + 1))
                case Some(s) =>
                  closed += ClosedSession(user, s.start, s.end, s.n)
                  open = Some(OpenSession(t, t, 1))
                case None =>
                  open = Some(OpenSession(t, t, 1))
              }
            }
            open.foreach { s =>
              state.update(s)
              state.setTimeoutTimestamp(s.end + gapMs)
            }
            closed.result().iterator
          }
        })
  }
}
