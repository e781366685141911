package graft.identity

import java.util.concurrent.ConcurrentHashMap

import scala.concurrent.duration.Duration
import scala.concurrent.{Await, ExecutionContext, Future}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

/** U3: DID-create bootstrap — the parallel initialization that builds
  * the credential dimension every identity query joins against
  * (SURVEY.md §2.5, §3.2).
  *
  * Reference semantics
  * (veramo-agent/src/veramo/veramo_create_protected_did.ts:88-270,
  * data_synthesizer/service/veramo/bootstrap.go:30-99): for each
  * entity, getOrCreate a DID (idempotent — a re-run or a duplicate
  * request returns the already-registered identifier), then run
  * document HOSTING and authorization-VC issuance IN PARALLEL, and
  * only mark the entity bootstrapped when both land.
  *
  * Two shapes, one mint rule:
  *  - [[bootstrap]] / [[bootstrapDim]]: driver-side bounded
  *    `Future.traverse` — the honest architecture when the registry
  *    dim is thousands of rows (the reference's own bootstrap is the
  *    same driver-side loop, bootstrap.go:30-99).
  *  - [[bootstrapDimDistributed]]: executor-side `mapPartitions`
  *    mint over the dim as a DataFrame — the keygen is deterministic
  *    and pure, so at a 100× dim (~1.5 M entities) the mint
  *    parallelizes across the cluster instead of ceiling on one
  *    driver core. No full-dim collect anywhere on this path.
  */
object DidBootstrap {

  /** One bootstrapped identity: the dim row J1-style lookups join on.
    * `hosted` / `vc_jwt` are the two parallel side effects' receipts.
    */
  final case class DidRecord(entity_id: Long, did: String,
                             did_provider: String, hosted: Boolean,
                             vc_jwt: String)

  /** Deterministic provider split for the BOOTSTRAP dim: entity id
    * mod 3 → did:key / did:web / did:ethr:sepolia, so all three
    * providers of the six-config experiment matrix (incl.
    * [[graft.model.ExperimentConfig]] row 6's did:ethr) mint
    * end-to-end. NOTE: this is the registry-dim rule only — the
    * dashboard's per-provider PANELS key on the separate per-EVENT
    * user_id even/odd rule (IdentityQueries' q2/q3), and the two
    * must not be "aligned": each is pinned by its own oracle. */
  def providerOf(entityId: Long): String =
    (((entityId % 3) + 3) % 3) match {
      case 0 => "did:key"
      case 1 => "did:web"
      case _ => "did:ethr:sepolia"
    }

  /** Deterministic ethr-style account address: 20 bytes of SHA-256
    * over a namespaced seed, hex-encoded — a stand-in for the
    * keccak256(pubkey)[12..] derivation the ethr method performs on
    * chain (the reference resolves did:ethr:sepolia via a provider
    * RPC; deterministic local derivation keeps the dim reproducible
    * without network). */
  private def ethrAddress(entityId: Long): String =
    sha256Hex("graft-ethr:" + entityId).substring(0, 40)

  /** The one mint rule all paths share: provider split + per-provider
    * identifier derivation. did:key must equal the per-row
    * [[CredentialOps.didKey]] fingerprint (J1 joins the dim against
    * per-row derivations of the same key). */
  def mintDid(entityId: Long): String = providerOf(entityId) match {
    case "did:key" => "did:key:z" + md5Hex(entityId.toString)
    case "did:web" => s"did:web:graft.example:u$entityId"
    case _         => "did:ethr:sepolia:0x" + ethrAddress(entityId)
  }

  /** Mint the full record: DID + hosting receipt + authz VC. Pure and
    * deterministic given (entityId, secret) — safe to run on any
    * executor, any number of times. */
  def mintRecord(entityId: Long,
                 secret: String = CredentialOps.DefaultSecret): DidRecord = {
    val did = mintDid(entityId)
    DidRecord(entityId, did, providerOf(entityId), hosted = true,
      Jwt.sign(s"""{"sub":"$did","scope":"$did/*"}""", secret))
  }

  /** The getOrCreate registry (ts:96-118 `getOrCreateDid`). Keyed by
    * entity id; `computeIfAbsent` gives the same atomic
    * first-writer-wins the reference gets from Veramo's store, so
    * concurrent duplicate requests mint exactly one DID.
    */
  final class Registry {
    private val dids = new ConcurrentHashMap[Long, String]()
    private val hosted = ConcurrentHashMap.newKeySet[String]()

    def size: Int = dids.size

    def providerOf(entityId: Long): String = DidBootstrap.providerOf(entityId)

    def getOrCreate(entityId: Long): String =
      dids.computeIfAbsent(entityId, mintDid(_))

    /** Hosting side effect (ts:149-186): register the DID document.
      * Idempotent — re-hosting an already-hosted DID is a no-op
      * success, mirroring the reference's upsert. */
    def host(did: String): Boolean = { hosted.add(did); true }
  }

  private def md5Hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString

  private def sha256Hex(s: String): String =
    java.security.MessageDigest.getInstance("SHA-256")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString

  /** Bootstrap every entity: getOrCreate its DID, then host the
    * document ∥ issue the authz VC (the reference's
    * `Promise.all([hostDid, issueAuthzVc])`, ts:200-247). Duplicate
    * ids collapse to one record (getOrCreate), input order does not
    * matter, and the whole traverse is bounded by the DIM size.
    */
  def bootstrap(entityIds: Seq[Long], registry: Registry = new Registry,
                secret: String = CredentialOps.DefaultSecret)
               (implicit ec: ExecutionContext =
                  ExecutionContext.global): Seq[DidRecord] = {
    val distinct = entityIds.distinct
    val fut = Future.traverse(distinct) { id =>
      val did = registry.getOrCreate(id)
      val hosting = Future(registry.host(did))
      val issuing = Future(Jwt.sign(
        s"""{"sub":"$did","scope":"$did/*"}""", secret))
      for (h <- hosting; vc <- issuing)
        yield DidRecord(id, did, registry.providerOf(id), h, vc)
    }
    Await.result(fut, Duration.Inf).sortBy(_.entity_id)
  }

  /** The bootstrap result as the broadcast-able credential dim —
    * driver path, for dims small enough that one core's keygen is
    * fine (the reference's own shape). */
  def bootstrapDim(spark: SparkSession, entityIds: Seq[Long],
                   secret: String = CredentialOps.DefaultSecret): DataFrame = {
    import spark.implicits._
    bootstrap(entityIds, secret = secret).toDF()
  }

  /** Executor-side mint over the entity dim: `distinct` replays
    * getOrCreate's duplicate-collapse (one DID per entity id
    * regardless of request multiplicity), then each partition mints
    * its slice in place — no driver collect, no ceiling on dim size.
    * The mint is [[mintRecord]]: pure, so retried/speculative tasks
    * produce identical rows.
    */
  def bootstrapDimDistributed(dim: DataFrame, idCol: String,
                              secret: String = CredentialOps.DefaultSecret)
                             : DataFrame = {
    val spark = dim.sparkSession
    import spark.implicits._
    dim.select(col(idCol).cast("long").as("entity_id"))
      .distinct()
      .as[Long]
      .mapPartitions(ids => ids.map(mintRecord(_, secret)))
      .toDF()
  }
}
