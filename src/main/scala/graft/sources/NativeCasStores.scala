package graft.sources

import ConditionalPut.{Committed, Etag, ObjectStore, PutOutcome, Rejected, Unknown}

/** Native-precondition object-store clients: the production half of the
  * pointer-publish CAS protocol.
  *
  * [[ConditionalPut.HadoopFsStore]] emulates conditional PUT with a
  * lock FILE — correct on POSIX/HDFS, best-effort on real object
  * stores. Every major store now exposes the primitive natively:
  *
  *  - S3: `PutObject` with `If-Match: <etag>` / `If-None-Match: *`
  *    (conditional writes, GA since late 2024). Etags for simple puts
  *    are the content MD5.
  *  - GCS: per-object monotone GENERATION numbers with
  *    `x-goog-if-generation-match` (0 = create-only).
  *  - Azure: blob ETags with `If-Match`/`If-None-Match` — same shape
  *    as S3.
  *
  * [[NativeCas.S3CasStore]] and [[NativeCas.GcsCasStore]] speak those
  * two shapes against the minimal request seam
  * [[NativeCas.VersionedStoreService]]; a production adapter binds the
  * seam to a real SDK in a handful of lines (one GET, one conditional
  * PUT — no other calls are used). This container has zero egress, so
  * the contract is proved against [[NativeCas.FakeVersionedStore]], an
  * in-process server model with REAL failure modes injected: the
  * response can be lost AFTER the server applied the write, forcing the
  * clients through their ambiguity-recovery paths (see
  * [[ObjectStoreContractSpec]] — the matrix races all stores, faults
  * on, and counts zero lost updates).
  *
  * What a lost response means per client:
  *  - S3: etags are content digests, so a re-GET showing OUR digest
  *    proves the write landed. A different digest is genuinely
  *    ambiguous (landed-then-overwritten vs never landed) →
  *    [[ConditionalPut.Unknown]], resolved by the protocol layer
  *    (idempotency predicate or loud failure).
  *  - GCS: generations are opaque counters with no content linkage, so
  *    the client re-GETs and compares BYTES; equal bytes → landed at
  *    the observed generation; different → Unknown, same resolution.
  */
object NativeCas {

  /** Precondition on a versioned PUT, in the vocabulary real stores
    * expose. Adapters map these 1:1 onto request headers. */
  sealed trait Precondition
  /** `If-None-Match: *` / `x-goog-if-generation-match: 0`. */
  case object IfAbsent extends Precondition
  /** S3/Azure `If-Match: etag`. */
  final case class IfEtag(etag: String) extends Precondition
  /** GCS `x-goog-if-generation-match: gen`. */
  final case class IfGeneration(gen: Long) extends Precondition

  /** Server-side result of a conditional PUT (what the wire returns
    * when the response ARRIVES; losing it is the transport's business). */
  sealed trait ServerPut
  final case class ServerStored(etag: String, generation: Long) extends ServerPut
  case object ServerPreconditionFailed extends ServerPut

  /** Thrown by the transport when the write's RESPONSE is lost: the
    * server may or may not have applied it — the defining ambiguity of
    * commits over a network, and the case the clients must recover. */
  final class ResponseLostException(msg: String)
      extends java.io.IOException(msg)

  /** The minimal request surface of a versioned object store: one GET
    * (content + etag + generation) and one conditional PUT. Real-store
    * adapters implement exactly this against the SDK; tests implement
    * it with [[FakeVersionedStore]]. */
  trait VersionedStoreService {
    /** (bytes, etag, generation) or None if absent. */
    def getObject(key: String): Option[(Array[Byte], String, Long)]

    /** Conditional PUT; may throw [[ResponseLostException]] AFTER the
      * server applied the write (transport fault). */
    def putObject(key: String, bytes: Array[Byte],
        pre: Precondition): ServerPut
  }

  private def md5hex(b: Array[Byte]): String =
    java.security.MessageDigest.getInstance("MD5").digest(b)
      .map("%02x".format(_)).mkString

  /** S3-shaped client: version tokens are content-MD5 etags;
    * preconditions are `If-Match` / `If-None-Match: *`. */
  final class S3CasStore(svc: VersionedStoreService) extends ObjectStore {
    def get(key: String): Option[(Array[Byte], Etag)] =
      svc.getObject(key).map { case (b, e, _) => (b, e) }

    def putIf(key: String, expect: Option[Etag],
        bytes: Array[Byte]): Option[Etag] =
      putIfChecked(key, expect, bytes) match {
        case Committed(e) => Some(e)
        case Rejected => None
        case Unknown =>
          // binary callers can't express ambiguity; the loud option is
          // the only safe one (a silent None invites double-apply)
          throw new ConditionalPut.AmbiguousCommitException(
            s"S3 conditional put on $key: response lost and outcome " +
              "unresolvable — use putIfChecked with protocol-level recovery")
      }

    override def putIfChecked(key: String, expect: Option[Etag],
        bytes: Array[Byte]): PutOutcome = {
      val pre = expect match {
        case None => IfAbsent
        case Some(e) => IfEtag(e)
      }
      try svc.putObject(key, bytes, pre) match {
        case ServerStored(e, _) => Committed(e)
        case ServerPreconditionFailed => Rejected
      } catch {
        case _: ResponseLostException =>
          // recovery: S3 etags are content digests — our digest live on
          // the key proves OUR bytes are the current version
          svc.getObject(key) match {
            case Some((_, etag, _)) if etag == md5hex(bytes) => Committed(etag)
            case _ => Unknown
          }
      }
    }
  }

  /** GCS-shaped client: version tokens are generation NUMBERS
    * (stringified in the [[ObjectStore]] etag slot); preconditions are
    * generation-match, 0 meaning create-only. */
  final class GcsCasStore(svc: VersionedStoreService) extends ObjectStore {
    def get(key: String): Option[(Array[Byte], Etag)] =
      svc.getObject(key).map { case (b, _, g) => (b, g.toString) }

    def putIf(key: String, expect: Option[Etag],
        bytes: Array[Byte]): Option[Etag] =
      putIfChecked(key, expect, bytes) match {
        case Committed(e) => Some(e)
        case Rejected => None
        case Unknown =>
          throw new ConditionalPut.AmbiguousCommitException(
            s"GCS conditional put on $key: response lost and outcome " +
              "unresolvable — use putIfChecked with protocol-level recovery")
      }

    override def putIfChecked(key: String, expect: Option[Etag],
        bytes: Array[Byte]): PutOutcome = {
      val pre = expect match {
        case None => IfGeneration(0L)
        case Some(g) => IfGeneration(g.toLong)
      }
      try svc.putObject(key, bytes, pre) match {
        case ServerStored(_, gen) => Committed(gen.toString)
        case ServerPreconditionFailed => Rejected
      } catch {
        case _: ResponseLostException =>
          // recovery: generations carry no content linkage — re-GET and
          // compare bytes; equality proves ours is the live version
          svc.getObject(key) match {
            case Some((b, _, gen)) if java.util.Arrays.equals(b, bytes) =>
              Committed(gen.toString)
            case _ => Unknown
          }
      }
    }
  }

  /** In-process model of a versioned store SERVER: linearizable per-key
    * conditional puts (etag = content MD5, generation = monotone
    * counter — both real stores' vocabularies at once), plus fault
    * injection that loses the RESPONSE of every `n`-th SUCCESSFUL put
    * after the server applied it — the crash point between PUT and etag
    * read the recovery paths exist for. */
  final class FakeVersionedStore extends VersionedStoreService {
    private val lock = new Object
    private var objects = Map.empty[String, (Array[Byte], String, Long)]
    private var nextGen = 0L
    private var applied = 0L
    private var loseEvery = 0L

    /** Lose the response of every `n`-th successful put (0 = off). */
    def injectResponseLoss(everyN: Long): Unit = lock.synchronized {
      loseEvery = everyN
    }

    /** Successful puts applied server-side (diagnostics). */
    def appliedPuts: Long = lock.synchronized(applied)

    def getObject(key: String): Option[(Array[Byte], String, Long)] =
      lock.synchronized {
        objects.get(key).map { case (b, e, g) => (b.clone(), e, g) }
      }

    def putObject(key: String, bytes: Array[Byte],
        pre: Precondition): ServerPut = lock.synchronized {
      val cur = objects.get(key)
      val ok = pre match {
        case IfAbsent => cur.isEmpty
        case IfEtag(e) => cur.exists(_._2 == e)
        case IfGeneration(0L) => cur.isEmpty
        case IfGeneration(g) => cur.exists(_._3 == g)
      }
      if (!ok) ServerPreconditionFailed
      else {
        nextGen += 1
        val stored = (bytes.clone(), md5hex(bytes), nextGen)
        objects = objects.updated(key, stored)
        applied += 1
        if (loseEvery > 0 && applied % loseEvery == 0)
          throw new ResponseLostException(
            s"response for put #$applied on $key lost after server apply")
        ServerStored(stored._2, stored._3)
      }
    }
  }
}
