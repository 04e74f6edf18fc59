package graft.engine

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.model._
import graft.operators._

/**
 * Engine facade: collection registry + the Get/Aggregate execution pipeline
 * (the Spark translation of usecases/traverser/explorer.go:135-210 — leg
 * dispatch, pagination defaults, post-processing order).
 *
 * Pipeline: tenant prune → where filter → search leg (vector | bm25 | hybrid |
 * plain) → sort → result-group-by → cursor/offset/limit → projection.
 * Everything stays one lazily-composed DataFrame, so Catalyst sees the whole
 * plan (filter pushdown into the scan, TopK for order+limit, broadcast for
 * ref joins).
 */
final class Graft(val spark: SparkSession) {

  private var collections: Map[String, Collection] = Map.empty
  private lazy val filterCompiler = new FilterCompiler(collection)

  /** Module hook: text → embedding (reference: modules/text2vec-*; the engine
   * treats the vectorizer as pluggable, like weaviate's module registry). */
  private var embedder: Option[String => Array[Float]] = None
  def withEmbedder(e: String => Array[Float]): Graft = { embedder = Some(e); this }

  /** Module hook: media payload → embedding (reference: modules/multi2vec-bind,
   * multi2vec-clip — nearImage/nearAudio/… resolve through a multimodal
   * vectorizer module; the engine never decodes media itself). */
  private var mediaEmbedder: Option[(MediaKind, Array[Byte]) => Array[Float]] = None
  def withMediaEmbedder(e: (MediaKind, Array[Byte]) => Array[Float]): Graft = {
    mediaEmbedder = Some(e); this
  }

  /** Resolve nearImage/nearAudio/… into a nearVector through the registered
   * multimodal module (reference: near_params_vector.go — every nearX family
   * funnels into one vector before the index sees it). */
  private def resolveNearMedia(nm: NearMedia): NearVector = {
    val embed = mediaEmbedder.getOrElse(
      throw new IllegalStateException(
        s"near${nm.kind.name.capitalize} requires a registered media embedder (withMediaEmbedder)"))
    NearVector(embed(nm.kind, nm.payload), nm.metric, nm.distance, nm.certainty, nm.targetVectors)
  }

  /** Module hook: reranker scorer (reference: modules/reranker-* cross-encoder
   * clients behind rank.ReRankerClient; default is the deterministic lexical
   * stand-in — see Rerank scaladoc). */
  private var reranker: Rerank.Scorer = Rerank.lexicalOverlap
  def withReranker(r: Rerank.Scorer): Graft = { reranker = r; this }

  /** Module hook: summarizer for `_additional { summary }` (reference:
   * modules/sum-transformers — deterministic extractive stand-in). */
  private var summarizer: Summarize.Client = Summarize.leadTokens(20)
  def withSummarizer(s: Summarize.Client): Graft = { summarizer = s; this }

  /** Module hook: QA reader for `_additional { answer }` (reference:
   * modules/qna-transformers; None = the extractive stand-in). */
  private var qnaClient: Option[Qna.Client] = None
  def withQnaClient(q: Qna.Client): Graft = { qnaClient = Some(q); this }

  /** Module hook: NER recognizer for `_additional { tokens }` (reference:
   * modules/ner-transformers; default = a small deterministic gazetteer
   * over the corpus's own vocabulary). */
  private var nerClient: Ner.Client = Ner.dictionary(Seq(
    Ner.DictEntry("spark", "PRODUCT", 0.95),
    Ner.DictEntry("window", "CONCEPT", 0.85),
    Ner.DictEntry("merge", "OPERATION", 0.8),
    Ner.DictEntry("stream", "CONCEPT", 0.75),
    Ner.DictEntry("customer", "ROLE", 0.65)))
  def withNerClient(n: Ner.Client): Graft = { nerClient = n; this }

  /** Module hook: generative client for `_additional { generate }`
   * (reference: modules/generative-* behind GenerativeClient; default is the
   * deterministic echo stand-in — see Generate scaladoc). */
  private var generator: Generate.Client = Generate.echo
  def withGenerator(g: Generate.Client): Graft = { generator = g; this }

  /** Module hook: query spellchecker for nearText autocorrect (reference:
   * entities/searchparams/retrieval.go `Autocorrect` flag; modules/
   * text-spellcheck transforms the concepts before vectorization). */
  private var spellchecker: Option[String => String] = None
  def withSpellchecker(s: String => String): Graft = { spellchecker = Some(s); this }

  /** Module hook: concept vocabulary for the contextionary additional
   * properties `nearestNeighbors` / `semanticPath` (reference: modules/
   * text2vec-contextionary — the remote contextionary service; here a
   * small (word, vector) table, module data like stopword presets). */
  private var concepts: Option[Contextionary.Vocab] = None
  def withConcepts(v: Contextionary.Vocab): Graft = { concepts = Some(v); this }
  private def conceptsOrFail(what: String): Contextionary.Vocab =
    concepts.getOrElse(throw new IllegalStateException(
      s"$what requires a concept vocabulary (Graft.withConcepts) — the " +
      "text2vec-contextionary module boundary"))

  /** Resolve nearText into a nearVector (concept centroid ± moves —
   * reference: near_params_vector.go + searcher_movements.go). */
  private def resolveNearText(c: Collection, nt0: NearText): NearVector = {
    // autocorrect runs on the raw concepts ahead of embedding, like the
    // reference's spellcheck transformer (retrieval.go:158); object ids are
    // untouched
    val nt =
      if (!nt0.autocorrect) nt0
      else {
        val fix = spellchecker.getOrElse(throw new IllegalStateException(
          "nearText.autocorrect requires a registered spellchecker (withSpellchecker)"))
        nt0.copy(concepts = nt0.concepts.map(fix),
          moveTo = nt0.moveTo.map(m => m.copy(concepts = m.concepts.map(fix))),
          moveAwayFrom = nt0.moveAwayFrom.map(m => m.copy(concepts = m.concepts.map(fix))))
      }
    val embed = embedder.getOrElse(
      throw new IllegalStateException("nearText requires a registered embedder (withEmbedder)"))
    // a move applies only with force > 0 AND at least one value or object
    // (reference: searcher.go:67,82); its vector is the mean of [the ONE
    // combined concepts vector] ++ [each object's stored vector]
    // (searcher.go:99-139 — values count once as a group, objects once each)
    def moveVec(m: MoveParams): Array[Float] = {
      val conceptPart =
        if (m.concepts.nonEmpty) Seq(Movements.centroid(m.concepts.map(embed))) else Nil
      val objectParts = m.objects.map { oid =>
        VectorSearch.resolveNearObject(c,
          NearObject(oid, targetVectors = nt.targetVectors)).vector
      }
      Movements.centroid(conceptPart ++ objectParts)
    }
    def applies(m: MoveParams): Boolean =
      m.force > 0 && (m.concepts.nonEmpty || m.objects.nonEmpty)
    var v = Movements.centroid(nt.concepts.map(embed))
    nt.moveTo.withFilter(applies).foreach(m => v = Movements.moveTo(v, moveVec(m), m.force))
    nt.moveAwayFrom.withFilter(applies).foreach(m => v = Movements.moveAwayFrom(v, moveVec(m), m.force))
    NearVector(v, nt.metric, nt.distance, nt.certainty, nt.targetVectors)
  }

  /** Resolve a hybrid's nearText legs into vectors through the embedder (the
   * module boundary), so the operator layer only ever sees vectors. The
   * top-level nearText (reference: explorer_hybrid.go:138-180) runs its
   * moves first, its distance feeds the dense-leg cutoff and its targets
   * apply when the hybrid doesn't name its own; each nearText subSearch
   * becomes a nearVector one. */
  private def resolveHybridNearText(c: Collection, h0: Hybrid): Hybrid = {
    val h = h0.nearText match {
      case Some(nt) =>
        val nv = resolveNearText(c, nt)
        val targets = if (h0.targetVectors.nonEmpty) h0.targetVectors else nt.targetVectors
        // certainty is the cosine-only radius form — converted to the distance
        // cutoff 2·(1−certainty), the engine's certainty convention (was
        // silently discarded, letting far vectors into fusion)
        val certaintyCut = nt.certainty.map { ct =>
          val m = if (nt.metric == Metric.Default) c.schema.metricFor(targets.headOption)
                  else nt.metric
          require(m == Metric.Cosine,
            s"can't compute and return certainty when vector index is " +
            s"configured with $m distance")
          2.0 * (1.0 - ct)
        }
        h0.copy(nearText = None, vector = Some(nv.vector),
          maxVectorDistance = h0.maxVectorDistance.orElse(nt.distance).orElse(certaintyCut),
          targetVectors = targets)
      // no explicit vector and no subsearches: the reference vectorizes the
      // QUERY TEXT through the class's vectorizer module for the dense leg
      // (explorer_hybrid.go — hybrid.Vector == nil → modules vectorize
      // hybrid.Query; local_get_hybrid_search_test.go's "no vector" arms
      // return the full fused page). Without a registered vectorizer the
      // leg stays sparse-only, as for vectorizer-less classes.
      case None if h0.vector.isEmpty && h0.denseParams.isEmpty && h0.subSearches.isEmpty &&
          h0.query.nonEmpty && h0.alpha > 0 =>
        embedder.map(e => h0.copy(vector = Some(e(h0.query)))).getOrElse(h0)
      case None => h0
    }
    if (!h.subSearches.exists(_.nearText.isDefined)) h
    else h.copy(subSearches = h.subSearches.map(ss => ss.nearText.fold(ss)(nt =>
      ss.copy(nearText = None, nearVector = Some(resolveNearText(c, nt))))))
  }

  /**
   * Cross-class Explore driven by nearText concepts ± moves (reference:
   * traverser_explore_concepts.go — the vectorize-and-move pipeline runs
   * ONCE, then the beacon search fans across classes). Object moves resolve
   * their stored vectors against `objectClass` (defaults to the first
   * explored collection — the reference's beacons carry their class).
   */
  def explore(collections: Seq[String], nearText: NearText, limit: Int = 0,
              offset: Int = 0, objectClass: Option[String] = None): DataFrame = {
    // explore serves object data from EVERY listed collection — each needs
    // read_data (the reference authorizes the explore traverser too; an
    // unguarded explore would bypass read enforcement wholesale)
    authorizeRbac(rbacPrincipal, Rbac.ReadData,
      collections.map(n => Rbac.objects(rbacName(n))))
    val ctx = collection(objectClass.orElse(collections.headOption).getOrElse(
      throw new IllegalArgumentException("explore requires at least one collection")))
    val nv = resolveNearText(ctx, nearText)
    // resolve Metric.Default against the context class (get()'s
    // resolveMetrics rule) and forward the distance threshold — previously
    // only certainty cut the page and Default crashed downstream
    val metric =
      if (nearText.metric == Metric.Default)
        ctx.schema.metricFor(nearText.targetVectors.headOption)
      else nearText.metric
    graft.operators.Explore(this, collections, nv.vector, metric,
      limit, offset, nearText.certainty, nearText.distance)
  }

  /** Explore anchored on a STORED OBJECT's vector (the acceptance shadow
   * suite's `Explore(nearObject: ...)` form). With shadowed uuids — the
   * same id living in several classes — the anchor resolves from the FIRST
   * listed collection carrying it (the reference walks its class list the
   * same way and the shadow tests pin that both shadows then land inside
   * the radius). */
  def exploreObject(collections: Seq[String], nearObject: NearObject,
                    limit: Int = 0, offset: Int = 0): DataFrame = {
    authorizeRbac(rbacPrincipal, Rbac.ReadData,
      collections.map(n => Rbac.objects(rbacName(n))))
    val owner = collections.view.map(collection)
      .find(c => !c.df.filter(col(c.schema.idColumn) === lit(nearObject.id)).isEmpty)
      .getOrElse(throw new IllegalArgumentException(
        s"nearObject: no object with id ${nearObject.id} in ${collections.mkString(", ")}"))
    val nv = graft.operators.VectorSearch.resolveNearObject(owner, nearObject)
    val metric =
      if (nearObject.metric == Metric.Default)
        owner.schema.metricFor(nearObject.targetVectors.headOption)
      else nearObject.metric
    graft.operators.Explore(this, collections, nv.vector, metric,
      limit, offset, nearObject.certainty, nearObject.distance)
  }

  def register(c: Collection): Graft = {
    authorizeRbac(rbacPrincipal, Rbac.CreateCollections,
      Seq(Rbac.collectionsMetadata(c.schema.name)))
    // creation-path name validation (reference applies it on schema create,
    // not on startup loads — re-registration of the same names re-passes)
    SchemaValidation.validate(c.schema)
    // a class may not shadow an existing alias (the reference's schema
    // create rejects it — "alias name %s already exists",
    // aliases_api_test.go clashing-names arms); silent shadowing would
    // corrupt every alias resolution
    if (aliases.contains(c.name))
      throw new IllegalArgumentException(s"alias name ${c.name} already exists")
    // collections cap counts only NEW names (a re-registration replaces)
    if (!collections.contains(c.name))
      UsageLimits.check(maxCollections, collections.size, 1,
        UsageLimits.LimitCollections, usageTemplate)
    // a re-registration supersedes the previous frame: its persisted BM25
    // corpus stats would otherwise leak in statsCache for the session (the
    // store path evicts via writeVersion; this is the ad-hoc path's evict)
    if (collections.contains(c.name))
      graft.operators.Bm25Search.invalidateStats(c.name)
    collections += c.name -> c; this
  }
  def register(schema: CollectionSchema, df: DataFrame): Graft =
    register(Collection(schema, df))
  /** Resolve a user-supplied collection name — optionally namespace-QUALIFIED
   * ("<ns>:<Class>", resolver.go) and/or an alias — to its registry key.
   * EVERY by-name entry point must route through this (a raw resolveAlias
   * would silently mis-key qualified names in tenant/postings registries).
   * A qualified prefix must match the class's assigned namespace — a foreign
   * prefix gets the reference's invalid-class-name rejection
   * (QualifyRefTarget rule: refs and lookups never cross namespaces). */
  private def resolveName(name: String): String = {
    val prefix = Namespaces.namespaceFromQualified(name)
    val resolved = resolveAlias(Namespaces.stripQualification(name))
    if (prefix.nonEmpty && !collectionNamespaces.get(resolved).contains(prefix))
      throw new IllegalArgumentException(s"'$name' is not a valid class name")
    resolved
  }

  def collection(name: String): Collection = {
    val resolved = resolveName(name)
    val c = collections.getOrElse(resolved,
      throw new IllegalArgumentException(s"unknown collection $resolved"))
    // namespace lifecycle gate (reference: usecases/namespaces/RequireActive
    // called before serving a namespaced entity; callers outside the
    // management API render PublicMessage, not the sentinel)
    collectionNamespaces.get(resolved).foreach { ns =>
      namespaces.requireActive(ns).left.foreach { e =>
        throw new IllegalStateException(
          Namespaces.publicMessage(e).getOrElse(e.message))
      }
    }
    c
  }
  def hasCollection(name: String): Boolean =
    try collections.contains(resolveName(name))
    catch { case _: IllegalArgumentException => false }

  /** Registered collection names, sorted (reference: selector.ListClasses —
   * the backup scheduler's wildcard/exclude universe). */
  def collectionNames: Seq[String] = collections.keys.toSeq.sorted

  // --- Namespaces (reference: usecases/namespaces) — platform grouping of
  // collections; a non-active namespace makes its collections unavailable at
  // every entry point that routes through `collection`.
  val namespaces = new Namespaces
  private val collectionNamespaces = scala.collection.mutable.Map.empty[String, String]

  /** Assign a collection to a namespace (the reference qualifies class names
   * as "<namespace>:<Class>", usecases/schema/namespacing; the engine keeps
   * the mapping explicit). The namespace must exist and be active. */
  def assignNamespace(collectionName: String, namespace: String): Graft = {
    val resolved = resolveName(collectionName)
    require(collections.contains(resolved), s"unknown collection $resolved")
    namespaces.requireActive(namespace).left.foreach { e =>
      throw new IllegalStateException(Namespaces.publicMessage(e).getOrElse(e.message))
    }
    collectionNamespaces += resolved -> namespace
    this
  }

  /**
   * Namespace-cleanup sweep (reference: usecases/namespace_cleanup/
   * coordinator.go:144-205 Tick + cleanupSingleNamespace, scheduled by
   * usecases/cron/namespace_cleanup.go): for every namespace in the
   * DELETING state, drop the aliases that target its classes, deregister
   * the classes themselves, then remove the namespace entry — in that
   * order, so no alias ever outlives its target and no class outlives its
   * namespace record. Users/RBAC from the reference's walk are out of
   * engine scope. Single-flight like the reference's `ongoing` CAS: the
   * sweep runs under the controller's monitor. Returns the ordered action
   * log ("alias:<a>", "class:<c>", "namespace:<ns>") for observability —
   * the reference logs the same walk.
   */
  def cleanupDeletingNamespaces(): Seq[String] = synchronized {
    namespaces.listDeleting().flatMap { ns =>
      val classes = collectionNamespaces.collect {
        case (cl, n) if n == ns => cl
      }.toSeq.sorted
      val aliasLog = classes.flatMap(cl => listAliases(Some(cl)).map(_._1))
        .distinct.sorted.map { a => deleteAlias(a); s"alias:$a" }
      val classLog = classes.map { cl =>
        graft.operators.Bm25Search.invalidateStats(cl)
        // release + drop the postings registries too: a swept class would
        // otherwise pin its persisted index datasets for the session, and a
        // re-registered same name would inherit the stale spec (props that
        // may not exist on the new schema)
        postingsIndexes.synchronized {
          postingsIndexes.remove(cl).foreach(releasePostings)
        }
        postingsSpecs -= cl
        collections -= cl
        collectionNamespaces -= cl
        tenantRegistry -= cl
        autoTenantConfig -= cl
        s"class:$cl"
      }
      namespaces.removeEntity(ns).left.foreach(e =>
        throw new IllegalStateException(e.message))
      (aliasLog ++ classLog) :+ s"namespace:$ns"
    }
  }

  // --- Collection aliases (reference: usecases/schema/alias.go +
  // cluster/schema/schema.go:739-775) — an alias is a second name for a
  // class, resolved at EVERY entry point (Get/Aggregate/stores route through
  // `collection`); created against an existing class, never colliding with a
  // class or another alias, validated like a class name, first letter
  // uppercased (schema.UppercaseClassName).
  private val aliases = scala.collection.mutable.LinkedHashMap.empty[String, String]

  private def canonicalAlias(a: String): String =
    if (a.isEmpty) a else a.head.toUpper +: a.tail

  def resolveAlias(name: String): String = aliases.getOrElse(name, name)

  def createAlias(alias0: String, className0: String): Graft = {
    val alias = canonicalAlias(alias0)
    val className = canonicalAlias(className0)
    SchemaValidation.validateClassName(alias)
    if (aliases.contains(alias))
      throw new IllegalArgumentException(s"create alias: $alias, alias already exists")
    if (!collections.contains(className))
      throw new IllegalArgumentException(
        s"create alias: $alias, class not found, $className")
    if (collections.contains(alias))
      throw new IllegalArgumentException(s"create alias: class $alias already exists")
    aliases += alias -> className
    this
  }

  /** replaceAlias: point an existing alias at another existing class. */
  def updateAlias(alias0: String, newClassName0: String): Graft = {
    val alias = canonicalAlias(alias0)
    val newClassName = canonicalAlias(newClassName0)
    if (!collections.contains(newClassName))
      throw new IllegalArgumentException(
        s"replace alias: class $newClassName does not exist")
    if (!aliases.contains(alias))
      throw new IllegalArgumentException(s"replace alias: alias $alias does not exist")
    aliases += alias -> newClassName
    this
  }

  def deleteAlias(alias0: String): Graft = {
    val alias = canonicalAlias(alias0)
    if (!aliases.contains(alias))
      throw new IllegalArgumentException(s"alias $alias not found")
    aliases -= alias
    this
  }

  /** List aliases, optionally filtered to one target class (GetAliases). */
  def listAliases(className: Option[String] = None): Seq[(String, String)] =
    // canonicalize the filter like every alias MUTATION does — stored
    // targets are canonical, so a lowercase filter would never match
    aliases.toSeq.filter(kv => className.map(canonicalAlias).forall(_ == kv._2))

  /**
   * Tenant lifecycle registry (reference: usecases/schema/tenant.go —
   * AddTenants/UpdateTenants/DeleteTenants/GetTenants; status semantics
   * entities/models/tenant.go:34). Enforcement is OPT-IN per collection: once
   * a collection has registered tenants, a Get/Aggregate against an unknown
   * tenant fails "tenant not found" and against a non-ACTIVE one "tenant not
   * active" (entities/errors/errors_multitenancy.go:19-20); collections that
   * never register tenants keep the plain partition-filter behavior (the
   * reference instead hard-requires tenant creation on multi-tenant classes —
   * divergence documented here and pinned in TenantSpec).
   */
  private var tenantRegistry: Map[String, Map[String, TenantStatus]] = Map.empty

  /** Create tenants; on create only ACTIVE or INACTIVE are allowed
   * (validateActivityStatuses with allowFrozen=false — tenant.go:63,150-178).
   * Within-request duplicates reject (validateTenants), but RE-ASSERTING an
   * existing tenant is IDEMPOTENT (raft AddTenants skips existing names —
   * create_delete_update_tenants_test.go "Create same tenant multiple
   * times"), and only truly-new tenants count toward the cap
   * (tenant.go:72-95). */
  /** Schema-level tenant MUTATIONS never resolve aliases: the reference's
   * TenantsCreate/Update/Delete addressed by an alias fail with the raw-name
   * class lookup (aliases_api_test.go "add_update_delete tenants with alias
   * - should fail"), while tenant READS and data queries resolve. */
  private def rejectAliasTenantOp(name: String): Unit = {
    val n = canonicalAlias(Namespaces.stripQualification(name))
    if (aliases.contains(n))
      throw new IllegalArgumentException(s"class $n not found")
  }

  def addTenants(collectionName: String, ts: Seq[Tenant]): Graft = {
    rejectAliasTenantOp(collectionName)
    // registry keys are CANONICAL names — an alias-keyed entry would bypass
    // checkTenant (which looks up by c.name) and serve inactive tenants
    val cn = resolveName(collectionName)
    require(collection(cn).schema.tenantColumn.isDefined,
      s"$collectionName is not multi-tenant (no tenant column declared)")
    val cur = tenantRegistry.getOrElse(cn, Map.empty)
    ts.foreach { t =>
      validateTenantName(t.name)
      if (t.activityStatus == TenantStatus.Offloaded)
        throw new IllegalArgumentException(
          s"""invalid activity status 'FROZEN' for tenant "${t.name}"""")
    }
    ts.groupBy(_.name).collectFirst { case (n, xs) if xs.size > 1 => n }
      .foreach(n => throw new IllegalArgumentException(
        s"tenant name $n existed multiple times"))
    val newOnes = ts.filterNot(t => cur.contains(t.name))
    checkTenantCap(newOnes.size)
    tenantRegistry += cn -> (cur ++ newOnes.map(t => t.name -> t.activityStatus))
    this
  }

  /** Instance-wide tenant cap across every collection's registry — shared
   * by BOTH tenant-creating write paths (addTenants and auto-creation). */
  private def checkTenantCap(n: Long): Unit =
    UsageLimits.check(maxTenants,
      tenantRegistry.valuesIterator.map(_.size.toLong).sum, n,
      UsageLimits.LimitTenants, usageTemplate)

  /** Update activity status; the tenant must exist (tenant.go on-update rules —
   * all three statuses allowed). */
  def updateTenant(collectionName: String, name: String, status: TenantStatus): Graft = {
    rejectAliasTenantOp(collectionName)
    val cn = resolveName(collectionName)
    val cur = tenantRegistry.getOrElse(cn, Map.empty)
    require(cur.contains(name), s"tenant not found: $name")
    tenantRegistry += cn -> (cur + (name -> status))
    // a reactivated tenant is reconciliation's cue to strip its shard for
    // any pending drop-vector cleanup (cold-tenant deferred finalize)
    if (status == TenantStatus.Active) reconcileVectorDrops(cn, name)
    this
  }

  def deleteTenants(collectionName: String, names: Seq[String]): Graft = {
    rejectAliasTenantOp(collectionName)
    val cn = resolveName(collectionName)
    // an unknown class must error, not insert a bogus registry entry
    require(collections.contains(cn), s"unknown collection $cn")
    val cur = tenantRegistry.getOrElse(cn, Map.empty)
    tenantRegistry += cn -> (cur -- names)
    // a deleted tenant's shard no longer exists to clean: any pending
    // drop-vector marker it was holding open finalizes on the coverage
    // already recorded — WITHOUT re-cleaning the surviving tenants
    // (deleted_tenant_reclean_test.go's no-fresh-round contract)
    pendingVectorDrops.collect {
      case ((c0, vec), owed) if c0 == cn && names.exists(owed.contains) =>
        (vec, owed -- names)
    }.foreach { case (vec, rest) =>
      if (rest.isEmpty) finalizeVectorDrop(cn, vec)
      else pendingVectorDrops += (cn, vec) -> rest
    }
    this
  }

  // autoTenantCreation / autoTenantActivation (reference: class.go:1770-1780 —
  // per-class multi-tenancy config flags; entities/models/
  // multi_tenancy_config.go): creation = a WRITE addressed at an unknown
  // tenant creates it ACTIVE; activation = a READ addressed at an INACTIVE
  // tenant flips it ACTIVE instead of erroring (OFFLOADED still requires an
  // explicit onload — the reference's auto-activation is HOT/COLD only).
  private var autoTenantConfig: Map[String, (Boolean, Boolean)] = Map.empty

  def withAutoTenant(collectionName: String, creation: Boolean = false,
                     activation: Boolean = false): Graft = {
    require(collection(collectionName).schema.tenantColumn.isDefined,
      s"can't enable autoTenantCreation on a non-multi-tenant class")
    autoTenantConfig += resolveName(collectionName) -> ((creation, activation))
    this
  }

  /** name contract (entities/schema/validation.go ValidateTenantName:
   * ShardNameRegexCore `[A-Za-z0-9\-\_]{1,64}`) — the regex AND the error
   * text live once in WireDecoder.tenantNameError, shared with the tenants
   * wire decoder so the two paths cannot drift. */
  private def validateTenantName(name: String): Unit =
    WireDecoder.tenantNameError(name).foreach(msg =>
      throw new IllegalArgumentException(msg))

  /** Write-path tenant hook: call with the tenants a batch addresses —
   * unknown tenants are created when autoTenantCreation is on, otherwise the
   * standard not-found gate fires. */
  def ensureTenants(collectionName: String, names: Seq[String]): Graft = {
    val cn = resolveName(collectionName)
    val creation = autoTenantConfig.get(cn).exists(_._1)
    val cur = tenantRegistry.getOrElse(cn, Map.empty)
    val unknown = names.distinct.filterNot(cur.contains)
    if (unknown.nonEmpty) {
      if (!creation)
        throw new IllegalArgumentException(s"tenant not found: ${unknown.head}")
      // auto-created tenants pass the SAME name contract addTenants enforces
      // (an invalid auto-created name would pollute partition paths) AND the
      // same instance-wide cap — auto-creation is a write path, exactly
      // where the reference's chokepoint check fires; without this the cap
      // is silently bypassable via autoTenantCreation
      unknown.foreach(validateTenantName)
      checkTenantCap(unknown.size)
      tenantRegistry += cn ->
        (cur ++ unknown.map(_ -> (TenantStatus.Active: TenantStatus)))
    }
    this
  }

  /** GetTenants (reference: usecases/schema/tenant.go GetConsistentTenants). */
  def tenants(collectionName: String): Seq[Tenant] =
    tenantRegistry.getOrElse(resolveName(collectionName), Map.empty)
      .toSeq.sortBy(_._1).map { case (n, s) => Tenant(n, s) }

  /** Whether the class has MANAGED tenants (a non-empty tenant registry) —
   * the engine's "multi-tenancy enabled" signal for query addressing. */
  private def tenantRegistryHas(collectionName: String): Boolean =
    tenantRegistry.get(collectionName).exists(_.nonEmpty)

  /** Registry gate for a query-addressed tenant (with autoTenantActivation:
   * an INACTIVE tenant flips ACTIVE instead of erroring). */
  private def checkTenant(collectionName: String, tenant: Option[String]): Unit =
    for {
      t   <- tenant
      reg <- tenantRegistry.get(collectionName) if reg.nonEmpty
    } {
      val status = reg.getOrElse(t,
        throw new IllegalArgumentException(s"tenant not found: $t"))
      if (status == TenantStatus.Inactive &&
          autoTenantConfig.get(collectionName).exists(_._2)) {
        tenantRegistry += collectionName -> (reg + (t -> TenantStatus.Active))
      } else if (status != TenantStatus.Active)
        throw new IllegalArgumentException(s"tenant not active: $t")
    }

  /** flatSearchCutoff analogue (reference: entities/vectorindex/hnsw/
   * config.go:34-39, default 40000): allowlists below this size are
   * brute-forced; at or above it, filtered vector search probes the index. */
  private var flatSearchCutoff: Long = 40000L
  def withFlatSearchCutoff(n: Long): Graft = { flatSearchCutoff = n; this }

  /** QueryMaximumResults analogue (reference: adapters/repos/db/search.go
   * getTotalLimit — offset+limit may not exceed QUERY_MAXIMUM_RESULTS,
   * default 10000 in usecases/config/config_handler.go; requesting more is
   * "query maximum results exceeded"). A limit-less Get is CLAMPED to the cap
   * instead of returning the whole collection; distance/certainty radius
   * searches bypass it like the reference's LimitFlagSearchByDist. */
  private var queryMaximumResults: Long = 10000L
  def withQueryMaximumResults(n: Long): Graft = { queryMaximumResults = n; this }

  // --- usage limits + config restrictions (reference: usecases/usagelimits,
  // usecases/restrictions) -------------------------------------------------
  private var maxCollections: Option[Long] = None
  private var maxTenants: Option[Long] = None
  private var usageTemplate: String = ""
  /** Instance-wide schema caps (collections / tenants); the objects cap
   * lives at the store write chokepoint (CollectionStore.withMaxObjects). */
  def withUsageLimits(collections: Option[Long] = None,
                      tenants: Option[Long] = None,
                      template: String = ""): Graft = {
    maxCollections = collections; maxTenants = tenants
    usageTemplate = template; this
  }

  // --- RBAC-lite (reference: usecases/auth/authorization — rbac/
  // authorizer.go is consulted at every handler entry; here the entries are
  // get/aggregate/explore (read_data on the collection+tenant resource) and
  // register (create_collections)). Unconfigured ⇒ open, like a reference
  // node without AUTHORIZATION_RBAC_ENABLED. -------------------------------
  private var rbacPolicy: Option[Rbac.Policy] = None
  private var rbacPrincipal: Option[Rbac.Principal] = None
  /** Configure the policy and this engine's DEFAULT principal. MUTATES this
   * engine (like every withX): two handles from two withRbac calls alias
   * the same state — the last principal wins for get/aggregate/explore/
   * register calls that don't carry their own. Concurrent multi-principal
   * serving must thread the principal per request via getAs/aggregateAs
   * (the reference's shape: the policy is node state, the principal rides
   * the request context). */
  def withRbac(policy: Rbac.Policy, principal: Option[Rbac.Principal]): Graft = {
    rbacPolicy = Some(policy); rbacPrincipal = principal; this
  }
  private def authorizeRbac(principal: Option[Rbac.Principal], verb: String,
                            resources: => Seq[String]): Unit =
    rbacPolicy.foreach(p => Rbac.authorize(p, principal, verb, resources))
  /** Canonical collection name for authorization: grants are written
   * against canonical class names, so aliases and namespace-qualified
   * names must resolve BEFORE the permission check (an alias re-pointed at
   * a different class must not carry its old grants; a qualified name must
   * match the grant on its class). Total: an unresolvable name authorizes
   * (and then fails) under the raw string. */
  private def rbacName(name: String): String =
    try resolveName(name) catch { case _: Throwable => name }

  private var allowedIndexTypes: Option[Seq[String]] = None
  private var restrictionsTemplate: String = ""
  /** Operator allow-list for `vector_index_type`, checked at index
   * registration (the engine's config-validation point). */
  def withRestrictions(vectorIndexTypes: Option[Seq[String]],
                       template: String = ""): Graft = {
    allowedIndexTypes = vectorIndexTypes; restrictionsTemplate = template; this
  }

  private var postingsPruneCutoff: Long = 40000L
  /** Corpus-size threshold below which engine keyword search skips the
   * two-phase block-max pruning and scores on the driver from one fetch of
   * the query's posting rows (see bm25Serve). It also bounds that fetch: at
   * most cutoff × scored props × query terms posting rows reach the driver. */
  def withPostingsPruneCutoff(n: Long): Graft = { postingsPruneCutoff = n; this }

  /**
   * Shared dense-leg planner: registered-index lookup + bounded selectivity
   * hint + `IvfIndex.searchOrScan` — ONE implementation serving Get's nearX
   * leg, both hybrid dense legs (Get and Aggregate) and objectLimit-scoped
   * aggregation. These were copy-pasted before and drifted (the aggregate
   * copies omitted the selectivity hint, so a filtered indexed search there
   * could never take the index arm).
   */
  private def denseServe(c: Collection, nv: NearVector, limit: Option[Int],
                         filtered: Option[DataFrame]): DataFrame = {
    val idx =
      if (nv.targetVectors.size > 1) None
      else nv.targetVectors.headOption.orElse(c.schema.defaultVector)
        .flatMap(c.vectorIndexes.get)
    // multi-target combinations are index-served when EVERY target has its
    // own registered index (IvfIndex.multiTargetSearch; reference
    // shard_read.go:655-752) — the filtered arm needs the same selectivity
    // hint as single-target for the flatSearchCutoff decision
    val multiIndexed = nv.targetVectors.size > 1 &&
      nv.targetVectors.forall(t => c.vectorIndexes.get(t)
        .exists(ix => c.schema.vectors.get(t).contains(ix.vecCol)))
    val hint =
      if (filtered.isDefined && (idx.isDefined || multiIndexed) &&
          nv.distance.orElse(nv.certainty).isEmpty)
        Some(selectivityEstimate(filtered.get, c.schema.idColumn))
      else None
    graft.ann.IvfIndex.searchOrScan(c, idx, nv, limit, filtered,
      filteredCountHint = hint, flatSearchCutoff = flatSearchCutoff)
  }

  /**
   * Estimated row count of a filtered frame for the flatSearchCutoff
   * decision. The reference reads this cardinality ~free from its filter
   * bitmap popcount (inverted/searcher.go); the Spark analogues, in order:
   * (1) Catalyst's stats rowCount when the optimized plan carries one (zero
   * jobs); (2) a CAPPED count — count over limit(cutoff) — whose per-
   * partition work stops at `cutoff` rows regardless of collection size, and
   * whose result min(n, cutoff) is exactly enough to answer "at or above the
   * cutoff?", the only question the planner asks. Never a full count of the
   * filtered frame (the pre-r7 implementation scanned it once for the count
   * and then possibly again for the brute-force search).
   */
  private[graft] def selectivityEstimate(filtered: DataFrame, idCol: String): Long =
    filtered.queryExecution.optimizedPlan.stats.rowCount match {
      case Some(rc) => rc.toLong
      case None =>
        val cap = math.min(flatSearchCutoff, Int.MaxValue.toLong).toInt
        filtered.select(col(idCol)).limit(cap).count()
    }

  /** Attach a batch-built ANN index to a named vector (reference: per-shard
   * vector index registry; planner choice in IvfIndex.searchOrScan). */
  def registerIndex(collectionName: String, vectorName: String, idx: graft.ann.IvfIndex): Graft = {
    Restrictions.check(allowedIndexTypes, Restrictions.VectorIndexType, "ivf",
      restrictionsTemplate)
    registerIndexUnchecked(collectionName, vectorName, idx)
  }

  /** Registry update without the vector_index_type restriction: a DYNAMIC
   * class whose upgrade swaps in the trained index is still declared type
   * "dynamic" — the restriction was checked on the declared type. */
  private def registerIndexUnchecked(collectionName: String, vectorName: String,
                                     idx: graft.ann.IvfIndex): Graft = {
    // registries key by CANONICAL name — an alias-keyed copy would be a
    // phantom Collection the lookup (which resolves aliases) never serves
    val c = collection(collectionName)
    // fail fast on a column mismatch: searchOrScan's servesTarget would
    // silently never serve the index, while denseServe's selectivity hint
    // kept paying a capped count per filtered query for nothing
    require(c.schema.vectors.get(vectorName).contains(idx.vecCol),
      s"index vector column ${idx.vecCol} does not match " +
      s"${c.name}.$vectorName (${c.schema.vectors.get(vectorName)})")
    require(idx.idCol == c.schema.idColumn,
      s"index id column ${idx.idCol} does not match ${c.name}.${c.schema.idColumn}")
    collections += c.name -> c.copy(vectorIndexes = c.vectorIndexes + (vectorName -> idx))
    this
  }

  /**
   * Attach a dynamic index (reference: vector/dynamic/index.go — flat until
   * `threshold` objects, then the trained index serves). The flat regime
   * registers NOTHING: the planner's exact-scan arm (searchOrScan's
   * fallthrough) IS the flat index, identical math, and stays exact for
   * radius/unlimited queries too. Once the dynamic value upgrades (at build
   * or on a threshold-crossing append), re-registering swaps the served
   * index — the registry update is the reference's atomic status flip. */
  def registerDynamicIndex(collectionName: String, vectorName: String,
                           dyn: graft.ann.DynamicIndex): Graft = {
    Restrictions.check(allowedIndexTypes, Restrictions.VectorIndexType, "dynamic",
      restrictionsTemplate)
    dyn.ivf match {
      case Some(ix) => registerIndexUnchecked(collectionName, vectorName, ix)
      case None =>
        val c = collection(collectionName)
        collections += c.name -> c.copy(vectorIndexes = c.vectorIndexes - vectorName)
        this
    }
  }

  // --- drop-vector-index lifecycle (reference: schema vectors DELETE +
  // adapters/repos/db/drop_vector_index*.go; acceptance test/acceptance/
  // drop_vector_index/{lifecycle,multivector,cold_tenant}_test.go).
  // Dropping a named vector space (1) releases its ANN side tables (the
  // IVF/dynamic registry entry, the muvera encoded table), (2) strips the
  // stored vectors of every ACTIVE tenant's objects (non-MT: all rows), and
  // (3) removes the VectorConfig entry — immediately when every shard was
  // cleaned, else the entry stays as a `vectorIndexType: "none"` MARKER
  // until the owed (cold) tenants reactivate and reconciliation strips
  // them (cold_tenant_test.go's deferred finalize). A manual schema update
  // may not remove the marker while shards are owed — the reference's
  // VectorConfigRemovalGate rejection (drop_vector_index_conflict.go:147).
  private var pendingVectorDrops = Map.empty[(String, String), Set[String]]

  def dropVectorIndex(collectionName: String, vectorName: String): Graft = synchronized {
    val c = collection(collectionName)
    val cn = c.name
    val vecCol = c.schema.vectors.getOrElse(vectorName,
      throw new IllegalArgumentException(
        s"collection $cn has no vector named $vectorName"))
    // (1) ANN side tables — same release discipline as registerMuvera's
    // replace path; the IVF entry drops from the per-collection registry
    muveraIndexes.synchronized {
      muveraIndexes.remove((cn, vecCol)).foreach(_._2.unpersist())
    }
    collections += cn -> collection(cn).copy(
      vectorIndexes = collection(cn).vectorIndexes - vectorName)
    // (2) COLD/OFFLOADED tenants' shards are not loaded — they stay owed
    // and defer the finalize (the reference's cold-tenant deferral)
    val owed: Set[String] = c.schema.tenantColumn match {
      case Some(_) => tenantRegistry.getOrElse(cn, Map.empty)
        .collect { case (t, st) if st != TenantStatus.Active => t }.toSet
      case None => Set.empty
    }
    stripVectorRows(cn, vecCol, keepTenants = owed)
    // (3) finalize, or leave the marker for reconciliation
    if (owed.isEmpty) finalizeVectorDrop(cn, vectorName)
    else pendingVectorDrops += (cn, vectorName) -> owed
    this
  }

  /** The schema's view of a pending drop: the VectorConfig entry stays with
   * `vectorIndexType: "none"` until cleanup covers every shard. */
  def vectorDropMarker(collectionName: String, vectorName: String): Option[String] =
    if (pendingVectorDrops.contains((collection(collectionName).name, vectorName)))
      Some("none") else None

  /** Write-path guard for named-vector payloads (usecases/objects/
   * validation/vector_validation.go:58-70): an unknown space rejects with
   * the no-configuration text; a "none"-marked (still-dropping) space with
   * the dropped-writes text — without it a write slips into the finalize
   * window and persists vector bytes no cleanup will ever remove. */
  def validateVectorWrite(collectionName: String,
                          vectorNames: Iterable[String]): Unit = {
    val c = collection(collectionName)
    vectorNames.foreach { n =>
      if (!c.schema.vectors.contains(n))
        throw new IllegalArgumentException(
          s"collection ${c.name} does not have configuration for vector $n")
      if (pendingVectorDrops.contains((c.name, n)))
        throw new IllegalArgumentException(
          s"vector index for $n was dropped; writes targeting it are rejected")
    }
  }

  /** Schema update removing a vector entry. While shards are still owed the
   * marker may not leave — only the completing cleanup removes it. */
  def removeVectorConfig(collectionName: String, vectorName: String): Graft = synchronized {
    val c = collection(collectionName)
    pendingVectorDrops.get((c.name, vectorName)).foreach { owed =>
      throw new IllegalArgumentException(
        s"""cannot remove dropped vector "$vectorName" on ${c.name}: """ +
        s"${owed.size} shards are not covered by the completing cleanup task; " +
        "cleanup re-runs automatically and the entry is removed once every shard is covered")
    }
    if (c.schema.vectors.contains(vectorName)) finalizeVectorDrop(c.name, vectorName)
    this
  }

  private def stripVectorRows(cn: String, vecCol: String,
                              keepTenants: Set[String]): Unit = {
    val c = collection(cn)
    if (!c.df.columns.contains(vecCol)) return
    val t = c.df.schema(vecCol).dataType
    val stripped = c.schema.tenantColumn match {
      case Some(tc) if keepTenants.nonEmpty =>
        c.df.withColumn(vecCol,
          when(col(tc).isin(keepTenants.toSeq: _*), col(vecCol))
            .otherwise(lit(null).cast(t)))
      case _ => c.df.withColumn(vecCol, lit(null).cast(t))
    }
    collections += cn -> c.copy(df = stripped, version = Collection.nextVersion())
  }

  private def finalizeVectorDrop(cn: String, vectorName: String): Unit = {
    val c = collection(cn)
    val vecCol = c.schema.vectors.get(vectorName)
    val newSchema = c.schema.copy(
      vectors = c.schema.vectors - vectorName,
      vectorMetrics = c.schema.vectorMetrics - vectorName,
      defaultVector = c.schema.defaultVector.filterNot(_ == vectorName))
    // drop the physical column too: a re-created same-name space must be
    // FRESH (lifecycle_test re-creates at a new dimensionality — resurrecting
    // pre-drop values through a shared column would leak them)
    val newDf = vecCol.filter(c.df.columns.contains) match {
      case Some(vc) if !newSchema.vectors.valuesIterator.contains(vc) => c.df.drop(vc)
      case _ => c.df
    }
    collections += cn -> c.copy(schema = newSchema, df = newDf,
      version = Collection.nextVersion())
    pendingVectorDrops -= ((cn, vectorName))
  }

  /** DELETE /v1/schema/{class}/properties/{prop}/{index} (alter_schema's
   * delete_property_index suite): flips the property's index flag OFF —
   * subsequent filters/bm25 on the property hit the engine's existing
   * inverted-index gates (FilterCompiler missingFilterableFormat, Bm25's
   * missing-searchable error) exactly like the reference after the LSM
   * bucket drop. Deleting the searchable index releases the class's
   * keyword postings (the physical analogue). An unknown property rejects
   * with the handler's text. indexName ∈ searchable|filterable|rangeFilters. */
  def deletePropertyIndex(collectionName: String, propName: String,
                          indexName: String): Graft = synchronized {
    val c = collection(collectionName)
    val p = c.schema.property(propName).getOrElse(
      throw new IllegalArgumentException(s"property name $propName: not found"))
    val np = indexName match {
      case "searchable"   => p.copy(indexSearchable = false)
      case "filterable"   => p.copy(indexFilterable = false)
      case "rangeFilters" => p.copy(indexRangeFilters = false)
      case other => throw new IllegalArgumentException(
        s"index name $other: not found")
    }
    val ns = c.schema.copy(properties =
      c.schema.properties.map(x => if (x.name == propName) np else x))
    collections += c.name -> c.copy(schema = ns, version = Collection.nextVersion())
    if (indexName == "searchable") {
      graft.operators.Bm25Search.invalidateStats(c.name)
      postingsIndexes.synchronized {
        postingsIndexes.remove(c.name).foreach(releasePostings)
      }
    }
    this
  }

  /** Tenant reactivation hook: a pending drop owed this tenant strips its
   * rows now; the last covered tenant finalizes the drop. */
  private def reconcileVectorDrops(cn: String, tenant: String): Unit =
    pendingVectorDrops.collect {
      case ((c0, vec), owed) if c0 == cn && owed.contains(tenant) => (vec, owed)
    }.foreach { case (vec, owed) =>
      collection(cn).schema.vectors.get(vec)
        .foreach(vc => stripVectorRows(cn, vc, keepTenants = owed - tenant))
      val rest = owed - tenant
      if (rest.isEmpty) finalizeVectorDrop(cn, vec)
      else pendingVectorDrops += (cn, vec) -> rest
    }

  /**
   * Postings (inverted-index) registry for keyword search (reference: BM25 is
   * ALWAYS served from the shard's inverted index there, with BlockMax WAND
   * on by default — adapters/repos/db/inverted/bm25_searcher.go:183-193).
   * A spec registration (props + buckets) builds lazily on the first keyword
   * query and REBUILDS when the collection's store version changes (the
   * async-indexing-queue analogue); a direct `PostingsIndex` registration is
   * served while its `storeId` matches and falls back to the scan path when
   * stale. Queries whose scored prop set doesn't match the index (or that
   * need per-term explain columns) take the scan path too — the planner
   * never serves a query the index can't answer exactly.
   */
  private val postingsIndexes =
    scala.collection.concurrent.TrieMap.empty[String, PostingsIndex]
  private var postingsSpecs: Map[String, (Seq[String], Int, Option[String])] = Map.empty

  /** Register a lazily-built postings index spec (mirrors `registerIndex`). */
  def registerPostings(collectionName: String, props: Seq[String],
                       buckets: Int = 64, persistPath: Option[String] = None): Graft = {
    val c = collection(collectionName)
    props.foreach(p => require(c.schema.property(p).exists(_.hasSearchableIndex),
      s"postings: $p is not a searchable text/text[] property of $collectionName"))
    postingsSpecs += c.name -> ((props, buckets, persistPath))
    this
  }

  /** Release a superseded index's cached side tables (postings is O(corpus)
   * in memory on the non-persisted arm — replacing without unpersisting
   * would leak one copy per store version). Idempotent; no-op for
   * parquet-backed frames. */
  private def releasePostings(idx: PostingsIndex): Unit = {
    idx.postings.unpersist(); idx.docLens.unpersist()
    idx.termDf.unpersist(); idx.maxImpact.unpersist()
  }

  /** Register a prebuilt postings index (e.g. after `Postings.delta`). */
  def registerPostings(collectionName: String, idx: PostingsIndex): Graft = {
    val cn = resolveName(collectionName)
    postingsIndexes.synchronized {
      postingsIndexes.get(cn).filterNot(_ eq idx).foreach(releasePostings)
      postingsIndexes(cn) = idx
    }
    this
  }

  /** Current-version postings index for a collection, building/rebuilding
   * from the registered spec when needed. */
  private[graft] def postingsFor(c: Collection): Option[PostingsIndex] = {
    def current = postingsIndexes.get(c.name)
      .filter(_.storeVersion == c.version)
    current.orElse(postingsSpecs.get(c.name).map { case (props, buckets, path) =>
      // build under a lock so two concurrent first keyword queries don't
      // both run the (expensive) build — same race class as Bm25Search's
      // statsCache; the re-check inside the lock keeps it build-once
      postingsIndexes.synchronized {
        current.getOrElse {
          val built = Postings.build(c, props, buckets, path)
          postingsIndexes.get(c.name).foreach(releasePostings) // stale version
          postingsIndexes(c.name) = built
          built
        }
      }
    })
  }

  /** Can a registered (or registerable) postings index serve these scored
   * props? Checked BEFORE `postingsFor` so a prop-mismatched query doesn't
   * trigger the expensive lazy build of an index it can never use. */
  private def postingsCanServe(c: Collection, wanted: Set[String]): Boolean =
    postingsIndexes.get(c.name)
      .filter(_.storeVersion == c.version).map(_.props)
      .orElse(postingsSpecs.get(c.name).map(_._1))
      .exists(ps => wanted.subsetOf(ps.toSet))

  /**
   * Apply an upsert/delete delta to the registered postings index without
   * re-tokenizing the standing corpus (the async-indexing-queue drain —
   * reference: writes enqueue, a background worker folds them into the
   * inverted index). Call AFTER re-registering the collection's post-
   * mutation view; the delta'd index adopts the new store version, so the
   * next keyword query serves from it directly. A collection with only a
   * lazy spec (no built index yet) is untouched — it rebuilds lazily.
   */
  def applyPostingsDelta(collectionName: String, changed: DataFrame,
                         removedIds: Option[DataFrame] = None): Graft = {
    val c = collection(collectionName)
    postingsIndexes.synchronized {
      postingsIndexes.get(c.name).foreach { idx =>
        postingsIndexes(c.name) = Postings.delta(idx, c, changed, removedIds)
      }
    }
    this
  }

  /**
   * Keyword-search planner — the scan-vs-index strategy choice (the keyword
   * mirror of `IvfIndex.searchOrScan`): serve from the registered postings
   * index when its prop set matches the query's scored props; otherwise
   * scan+score (Bm25Search). The where-filter becomes an allowlist either
   * way: docs outside it never return, and df stays collection-wide
   * (reference: shard_read.go:536-550). The index
   * path yields the k (id, _score) hits on the driver, so the page is
   * `filtered` narrowed to those ids with the score attached from a literal
   * map (the reference's fetch-objects-by-docid step) — no join, no
   * broadcast, and the corpus is never tokenized or scored.
   *
   * hitsOnly: return the postings-served (id, _score) top-N frame WITHOUT
   * the decoration + global sort — for callers that immediately reduce to
   * (id, score), i.e. the hybrid sparse leg. The row SET is identical: hits
   * ids are a subset of `filtered`'s (the allowlist applies BEFORE the
   * top-N), so decorating could never drop or add a row, and fusion re-ranks
   * so the skipped sort was dead ordering. The scan path is unchanged (it
   * has no decoration to skip). */
  private def bm25Serve(c: Collection, kw: Bm25, fetchN: Int, filtered: DataFrame,
                        explain: Boolean = false, hitsOnly: Boolean = false): DataFrame = {
    val id = c.schema.idColumn
    // explainScore needs the per-term breakdown columns — the scan path is
    // the explain plan (reference explains from the same scoring pass,
    // index.go:2266-2291); PostingsSpec "explainScore (scan path) matches
    // the postings-served _score" pins that the two paths agree and that the
    // per-term columns sum to _score
    if (explain)
      return Bm25Search.score(c, kw, Some(filtered), explain = true)
        .orderBy(col(Bm25Search.ScoreCol).desc, col(id).asc)
        .limit(fetchN)
    val specs =
      if (kw.properties.nonEmpty) Bm25Search.parseProps(kw.properties)
      else c.schema.properties.filter(_.hasSearchableIndex)
        .map(p => Bm25Search.PropSpec(p.name, 1.0))
    (if (postingsCanServe(c, specs.map(_.name).toSet)) postingsFor(c) else None)
      .filter(idx => specs.map(_.name).toSet.subsetOf(idx.props.toSet)) match {
      case Some(idx) =>
        val allow = if (filtered eq c.df) None else Some(filtered.select(col(id)))
        // block-max pruning pays when the postings scan is large: its two
        // phases are extra driver round-trips, so a small corpus is scored
        // on the driver from one posting-row fetch instead (the keyword
        // mirror of the flatSearchCutoff decision; the reference's block
        // stats are in-memory so its BlockMax is unconditionally on)
        val boosts = specs.map(s => s.name -> s.boost).toMap
        val hits =
          if (idx.nDocs < postingsPruneCutoff)
            Postings.search(idx, kw.query, fetchN, kw.searchOperator,
              kw.k1, kw.b, allowlist = allow, boosts = boosts,
              props = Some(specs.map(_.name)))
          else Postings.searchPruned(idx, kw.query, fetchN, kw.searchOperator,
            kw.k1, kw.b, allowlist = allow, boosts = boosts,
            props = Some(specs.map(_.name)))
        if (hitsOnly) hits
        else {
          val top = hits.collect()
          if (top.isEmpty) filtered.filter(lit(false)).withColumn(Bm25Search.ScoreCol, lit(0.0))
          else filtered.filter(col(id).isin(top.map(_.get(0)): _*))
            .withColumn(Bm25Search.ScoreCol, element_at(map_from_arrays(
              array(top.map(r => lit(r.get(0))).toSeq: _*),
              array(top.map(r => lit(r.getDouble(1))).toSeq: _*)), col(id)))
            .orderBy(col(Bm25Search.ScoreCol).desc, col(id).asc)
        }
      case None => Bm25Search.search(c, kw, fetchN, Some(filtered))
    }
  }

  /** Attach a muvera fixed-dim encoding to a multi-vector column (reference:
   * adapters/repos/db/vector/multivector/muvera.go — the encoded column is a
   * batch-built side artifact like the IVF assignment). Unfiltered
   * nearMultiVector queries then run the cheap single-vector dot first pass +
   * exact MaxSim rescore instead of full MaxSim on every row; filtered
   * queries keep the exact scan (the filter already bounds the work). */
  // value carries the source collection version (store-version gate): a
  // collection re-registered with new data must NOT be served stale
  // encodings — the query falls back to the exact MaxSim scan until
  // re-encoded
  // TrieMap, not mutable.Map: the serve path reads OUTSIDE the synchronized
  // block while registerMuvera writes inside it — a plain HashMap is unsafe
  // for read-during-resize (the postingsIndexes precedent)
  private val muveraIndexes =
    scala.collection.concurrent.TrieMap.empty[(String, String), (graft.ann.MuveraEncoder, DataFrame, Long, Int)]
  // rescoreFactor: candidate overfetch of the exact-MaxSim rescore
  // (topK × factor), the reference's rescoreLimit quality knob
  // (hnsw/config.go RescoreLimit on the multivector/muvera path)
  def registerMuvera(collectionName: String, vectorName: Option[String],
                     enc: graft.ann.MuveraEncoder,
                     persistPath: Option[String] = None,
                     rescoreFactor: Int = 4): Graft = {
    val c = collection(collectionName)
    val vecCol = c.schema.vectorColumn(vectorName)
    val computed = graft.ann.Muvera.encodeDocs(c.df, col(vecCol), enc)
    // like IvfIndex.build's persistPath: at warehouse scale the encoded table
    // is a parquet side artifact — the dot-product first pass then scans ONLY
    // the (id, __muvera) columns via parquet column pruning, never the token
    // bags; a memory persist is the test/interactive convenience path
    val encoded = persistPath match {
      case Some(p) =>
        computed.write.mode("overwrite").parquet(p)
        spark.read.parquet(p)
      case None =>
        computed.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    }
    muveraIndexes.synchronized {
      // replacing a registration releases the superseded persisted table
      // (keyed by the CANONICAL name — the serve path looks up c.name)
      muveraIndexes.get((c.name, vecCol)).foreach(_._2.unpersist())
      muveraIndexes += (c.name, vecCol) ->
        ((enc, encoded, c.version, rescoreFactor))
    }
    this
  }

  /** A request's search legs, in Get's dispatch order (at most one is
   * valid; the caller checks). Nothing is resolved yet: resolveMetrics
   * follows the first validation, and a nearX vector resolves on first use,
   * after every check. */
  private def searchLegs(c: Collection, params: GetParams): Seq[SearchLeg] = {
    import SearchLeg.Near
    Seq(
      params.nearVector.map(nv => Near(nv.metric, nv.distance, nv.certainty, nv.targetVectors)(
        m => nv.copy(metric = m))),
      params.nearObject.map(no => Near(no.metric, no.distance, no.certainty, no.targetVectors)(
        m => VectorSearch.resolveNearObject(c, no.copy(metric = m)))),
      params.nearText.map(nt => Near(nt.metric, nt.distance, nt.certainty, nt.targetVectors,
        Some(nt.concepts))(m => resolveNearText(c, nt.copy(metric = m)))),
      params.nearMedia.map(nm => Near(nm.metric, nm.distance, nm.certainty, nm.targetVectors)(
        m => resolveNearMedia(nm.copy(metric = m)))),
      params.nearMultiVector.map(SearchLeg.MultiVector),
      params.bm25.map(SearchLeg.Keyword),
      params.hybrid.map(h => SearchLeg.Fused(h)(resolveHybridNearText(c, _)))).flatten
  }

  /** Aggregate's legs are a subset of Get's. */
  private def searchLegs(c: Collection, params: AggregateParams): Seq[SearchLeg] =
    searchLegs(c, GetParams(params.collection, nearVector = params.nearVector,
      nearObject = params.nearObject, nearText = params.nearText, nearMedia = params.nearMedia,
      hybrid = params.hybrid))

  /** Resolve Metric.Default against the class's configured per-vector
   * distance (the reference's model: distance is vectorIndexConfig, not a
   * query argument), for the leg's first target: the nearX leg, and a
   * hybrid's own metric, every subSearch and its denseParams, so every
   * planner downstream sees a concrete metric. */
  private def resolveMetrics(c: Collection, leg: SearchLeg): SearchLeg = {
    def r(m: Metric, targets: Seq[String]): Metric =
      if (m == Metric.Default) c.schema.metricFor(targets.headOption) else m
    def rv(nv: NearVector): NearVector = nv.copy(metric = r(nv.metric, nv.targetVectors))
    leg match {
      case n: SearchLeg.Near => n.copy(metric = r(n.metric, n.targets))(n.resolve)
      case f @ SearchLeg.Fused(h) =>
        f.copy(params = h.copy(metric = r(h.metric, h.targetVectors),
          denseParams = h.denseParams.map(rv),
          subSearches = h.subSearches.map(ss => ss.copy(nearVector = ss.nearVector.map(rv),
            nearText = ss.nearText.map(nt => nt.copy(metric = r(nt.metric, nt.targetVectors)))))))(
          f.resolve)
      case other => other
    }
  }

  def get(params: GetParams): DataFrame = getAs(rbacPrincipal, params)

  /** Get under an explicit per-request principal (replaces — not falls back
   * to — the engine default; an explicitly anonymous request stays
   * anonymous). Race-free under concurrent multi-principal serving. */
  def getAs(principal: Option[Rbac.Principal], params: GetParams): DataFrame = {
    // authorization precedes any data access (and even the registry lookup's
    // error — the reference's handlers authorize before use-case dispatch)
    authorizeRbac(principal, Rbac.ReadData,
      Seq(Rbac.objects(rbacName(params.collection), params.tenant.getOrElse(""))))
    val c = collection(params.collection)
    val given = searchLegs(c, params)

    // after-cursor compatibility FIRST, before metric/vector resolution —
    // reference texts and check ORDER verbatim
    // (usecases/traverser/explorer_validate_scroll.go:22-33 — search legs
    // first as "other params"; then entities/filters/cursor_validator.go's
    // comma-joined offset/where/sort; then the limit flag; all wrapped
    // "cursor api: invalid 'after' parameter" by explorer.go:151). Keyset
    // pagination walks the id order, so any of these would silently break
    // the walk — rejected loudly instead.
    params.cursor.foreach { cur =>
      def cfail(msg: String): Nothing = throw new IllegalArgumentException(
        s"cursor api: invalid 'after' parameter: $msg")
      if (given.nonEmpty || params.groupBy.isDefined)
        cfail("other params cannot be set with after and limit parameters")
      val offending = Seq(
        if (params.pagination.exists(_.offset > 0)) Some("offset") else None,
        if (params.where.isDefined) Some("where") else None,
        if (params.sort.nonEmpty) Some("sort") else None).flatten
      if (offending.nonEmpty)
        cfail(s"${offending.mkString(",")} cannot be set with after and limit parameters")
      if (cur.limit < 0) cfail("limit parameter must be set")
    }

    val legs = given.map(resolveMetrics(c, _))
    val id = c.schema.idColumn

    // certainty is cosine-only on the Get path too (reference:
    // traverser_validate_distance_metrics.go — the certainty argument and
    // `_additional { certainty }` both require cosine distance)
    legs.foreach {
      // verbatim reference text, no require() prefix
      // (local_get_with_expected_failures.go asserts it exactly)
      case n: SearchLeg.Near if !((n.certainty.isEmpty &&
          !params.additional.contains("certainty")) || n.metric == Metric.Cosine) =>
        throw new IllegalArgumentException(
          "can't compute and return certainty when vector index is " +
          s"configured with ${n.metric.name} distance")
      case _ =>
    }

    // tenant routing = partition pruning (reference: index.go:2233);
    // lifecycle gate first (tenant not found / not active). A class with
    // MANAGED tenants requires tenant addressing — the reference's
    // multi-tenancy-enabled rejection verbatim (gql_get_tenant_objects_
    // test.go TestGQLGetTenantObjects_MissingTenant); tenantColumn-only
    // frames without a registry stay engine partition-pruning sugar.
    if (params.tenant.isEmpty && tenantRegistryHas(c.name))
      throw new IllegalArgumentException(
        s"explorer: list class: search: object search at index ${c.name.toLowerCase}: " +
        s"class ${c.name} has multi-tenancy enabled, but request was without tenant")
    checkTenant(c.name, params.tenant)
    val tenanted = (params.tenant, c.schema.tenantColumn) match {
      case (Some(t), Some(tc)) => c.df.filter(col(tc) === lit(t))
      case _                   => c.df
    }
    val filtered = params.where match {
      case Some(w) => filterCompiler(tenanted, c.schema, w)
      case None    => tenanted
    }

    val limit = params.pagination.map(p => p.offset + p.limit)
      .orElse(params.cursor.map(_.limit))
    // the page bound (search.go getTotalLimit) is checked before any leg
    // runs: search legs fetch their top-k at plan build
    require(params.pagination.map(p => p.offset.toLong + p.limit)
      .orElse(params.cursor.map(_.limit.toLong)).forall(_ <= queryMaximumResults),
      "query maximum results exceeded")

    // overfetch when grouping needs a deeper candidate pool
    // (reference: explorer groupBy pool = groups * objectsPerGroup)
    val fetchLimit0 = (params.groupBy, limit) match {
      case (Some(g), Some(l)) => Some(math.max(l, g.groups * g.objectsPerGroup))
      case (_, l)             => l
    }
    // boost overfetch (explorer.go:156-175): fetch Boost.Depth deep
    // (default QueryBoostDefaultDepth = 100, capped at QueryMaximumResults,
    // floored at offset+limit) so the rescoring pool is deeper than the page
    val boostActive = params.boost.exists(b => b.weight > 0 && b.conditions.nonEmpty)
    val fetchLimit =
      if (!boostActive) fetchLimit0
      else {
        val depth0 = params.boost.flatMap(_.depth).filter(_ > 0)
          .getOrElse(100) // DefaultQueryBoostDepth (environment.go:1898)
        val depth = math.min(depth0.toLong, queryMaximumResults).toInt
        Some(math.max(depth, fetchLimit0.getOrElse(0)))
      }

    require(legs.size <= 1, "at most one search leg (nearX | bm25 | hybrid)")
    val leg = legs.headOption
    val near = leg.collect { case n: SearchLeg.Near => n }
    val legTarget = leg.flatMap(_.vectorTarget)
    // threshold-only nearX with no explicit pagination = SearchByVectorDistance
    // (unlimited radius search, reference: shard_read.go:674-700): it returns
    // every row inside the threshold, bypassing the results cap too
    // (LimitFlagSearchByDist, search.go:57-59)
    val radiusSearch = near.exists(_.radius) && params.pagination.isEmpty && params.cursor.isEmpty

    // where/tenant filtering ⇒ selectivity decides: a small allowlist is
    // brute-forced, a large one probes the registered ANN index and
    // intersects (IvfIndex.searchOrScan — the flatSearchCutoff/ACORN
    // analogue). The selectivity estimate is bounded work (stats or a
    // cutoff-capped count — see selectivityEstimate), and is only paid when
    // an index could actually serve the query.
    val hasFilter = !(filtered eq c.df)
    def vectorLeg(nv: NearVector, limit: Option[Int]): DataFrame =
      denseServe(c, nv, limit, if (hasFilter) Some(filtered) else None)

    val searched: DataFrame = leg match {
      case Some(n: SearchLeg.Near) =>
        vectorLeg(n.query, if (radiusSearch) None else fetchLimit.orElse(Some(defaultLimit)))
      case Some(SearchLeg.MultiVector(nmv)) =>
        val vecCol = c.schema.vectorColumn(nmv.targetVectors.headOption)
        // a stale entry (collection re-registered with new data) is evicted
        // and its persisted table released; the query falls back to the
        // exact scan until re-encoded
        muveraIndexes.synchronized {
          muveraIndexes.get((c.name, vecCol)).foreach { case (_, enc0, sid, _) =>
            if (sid != c.version) {
              enc0.unpersist(); muveraIndexes.remove((c.name, vecCol))
            }
          }
        }
        muveraIndexes.get((c.name, vecCol)) match {
          case Some((enc, encoded, sid, rf)) if !hasFilter &&
              sid == c.version =>
            graft.ann.Muvera.search(encoded, id, "__muvera", vecCol, nmv.vectors, enc,
              fetchLimit.getOrElse(defaultLimit), rescoreFactor = rf)
          case _ =>
            VectorSearch.nearMultiVector(c, nmv, fetchLimit.orElse(Some(defaultLimit)),
              if (hasFilter) Some(filtered) else None)
        }
      case Some(SearchLeg.Keyword(kw)) =>
        bm25Serve(c, kw, fetchLimit.getOrElse(defaultLimit), filtered,
          explain = params.additional.contains("explainScore"))
      case Some(f: SearchLeg.Fused) =>
        val h = f.resolved
        HybridSearch.search(c, h, h.metric, fetchLimit.getOrElse(defaultLimit),
          filtered = Some(filtered),
          denseSearch = Some((nv, n) => vectorLeg(nv, Some(n))),
          sparseSearch = Some((kw, n) => bm25Serve(c, kw, n, filtered, hitsOnly = true)))
      case None => filtered
    }

    // boost post-scoring (boost_scorer.go boostScoreAndSort via
    // explorer.go:161-175/applyBoostIfNeeded): over the depth-bounded pool,
    // per-condition scores combine weight-normalized, blend with the
    // min-max-normalized primary (vector pages first convert distance to
    // score = −dist, distToScore), the combined scores re-normalize for
    // display and the pool re-sorts. Runs BEFORE pagination — the page is
    // the prefix of the boosted order. Score metadata serves the boosted
    // value (the raw distance stays).
    val boosted = boostActive && leg.isDefined
    val searchedB =
      if (!boosted) searched
      else {
        val b = params.boost.get
        val conds = b.conditions.map(bc => (boostConditionScore(c, bc), bc.weight))
        val out = graft.operators.Boost.applyBoost(
          searched, id, leg.get.score, conds, b.weight, HybridSearch.ScoreCol)
        // the boosted score IS the page score; a bm25 pool's raw score
        // column would otherwise win the `_score` resolution
        if (leg.exists(_.isInstanceOf[SearchLeg.Keyword]))
          out.withColumn(Bm25Search.ScoreCol, col(HybridSearch.ScoreCol))
        else out
      }

    // the rank the hits come in, decided once: boost's blended score when it
    // re-scored the pool, else the leg's own; a plain read ranks by id. Its
    // score is the autocut curve; its keys rank the groupBy pool, break an
    // explicit sort's ties and order a page that is neither sorted nor
    // grouped.
    val rankScore: Option[Column] = if (boosted) Some(col(HybridSearch.ScoreCol)) else leg.map(_.score)
    val rankKeys: Seq[Column] =
      if (boosted) Seq(col(HybridSearch.ScoreCol).desc, col(id).asc)
      else leg.fold(Seq(col(id).asc))(_.rankKeys(id))

    // autocut on the search score/distance curve (reference: index.go:2309-2313)
    val afterAutocut = (params.autocut, rankScore) match {
      case (Some(n), Some(score)) => HybridSearch.autocut(searchedB, score, col(id), n)
      case _ => searchedB
    }

    // explicit sort overrides search order (reference: sorter/, index.go:2293-2307)
    val explicitSortKeys: Seq[Column] =
      if (params.sort.isEmpty) Nil
      else {
        val keys = params.sort.zipWithIndex.map { case (s, idx) =>
          // per-clause validation with the reference's exact texts
          // (entities/sorter (validate.go) via traverser: position-wrapped;
          // replayed by the acceptance suite's broken-sort-clause cases)
          def sortFail(msg: String): Nothing = throw new IllegalArgumentException(
            s"invalid 'sort' parameter: sort parameter at position $idx: $msg")
          if (s.path.isEmpty) sortFail("path parameter cannot be empty")
          if (s.path.length > 1)
            sortFail("sorting by reference not supported, path must have exactly one argument")
          val cc = resolveSortCol(c, s.path.head, sortFail)
          // null placement per the reference's handleNils
          // (sorter/basic_comparators.go:371-382): nil compares as the
          // SMALLEST value — first on asc, last on desc. These are Spark's
          // defaults; spelled out so the parity is explicit and test-pinned
          // (arrays compare elementwise then by length on both systems).
          if (s.desc) cc.desc_nulls_last else cc.asc_nulls_first
        }
        // Tie order: the reference sorts the retrieved slice STABLY
        // (objects_sorter.go), so key ties keep the order the hits came in:
        // the rank (a search leg's distance, score or fused order, the
        // boosted score on a boosted read — the acceptance sort-with-nearText
        // cases pin this: population-tied Dusseldorf precedes Rotterdam
        // because it ranks nearer "Berlin"); a plain scan's prior order is
        // the uuid order. The rank's trailing id key keeps the total order.
        keys ++ rankKeys
      }
    val groupKeys = Seq(col("group_index").asc, col("group_hit_rank").asc)
    // the page's order: groups, else the explicit sort, else the rank (a
    // sort on a grouped read only picks the pool the groups are drawn from)
    val pageOrder =
      if (params.groupBy.isDefined) groupKeys
      else if (explicitSortKeys.nonEmpty) explicitSortKeys
      else rankKeys
    val sorted: DataFrame =
      if (explicitSortKeys.nonEmpty) afterAutocut.orderBy(explicitSortKeys: _*)
      else if (leg.isDefined) afterAutocut
      else params.cursor match {
        case Some(cur) =>
          val after = cur.after.map(a => afterAutocut.filter(col(id) > lit(a))).getOrElse(afterAutocut)
          after.orderBy(rankKeys: _*)
        case None => afterAutocut.orderBy(rankKeys: _*) // default uuid order (index.go:2303-2307)
      }

    val groupedOrSorted = params.groupBy match {
      case Some(g) =>
        val rankCol = "__rank"
        // Bound the rank pool BEFORE the global window (reference: explorer
        // groupBy pool = groups × objectsPerGroup overfetch). Search legs are
        // already fetchLimit-bounded, but the plain path (no search leg) would
        // otherwise rank the entire collection through one window task; with
        // the limit the pool arrives via TakeOrderedAndProject (k rows per
        // partition cross the exchange) and the window sees ≤ pool rows.
        val pool = fetchLimit.getOrElse(g.groups * g.objectsPerGroup)
        val pooled = sorted.limit(pool) // sorted always carries a total order
        val ranked = pooled.withColumn(rankCol,
          row_number().over(graft.operators.BoundedWindow.ordered(rankKeys: _*)))
        // explode per element for ANY array-shaped column — text[] props and
        // beacon-list crefs alike (the reference groups ref values per
        // beacon: people-by-city makes one group per city,
        // local_get_with_group_by_test.go:25-120)
        val isArr = pooled.schema(g.property).dataType
          .isInstanceOf[org.apache.spark.sql.types.ArrayType]
        ResultGroupBy(ranked, rankCol, g.property, g.groups, g.objectsPerGroup, isArr)
          .orderBy(groupKeys: _*)
      case None => sorted
    }

    val paged = params.pagination match {
      // groupBy pages GROUPS, not hits: the reference's grouped reply returns
      // one top-level object per group (shard_group_by.go), so limit/offset
      // bound the group_index — hybrid_group_by_array_test.go's 4-hit bed
      // yields 9 full groups under the default limit, never a truncated group
      case Some(p) if params.groupBy.isDefined =>
        groupedOrSorted.filter(col("group_index") > p.offset &&
          col("group_index") <= p.offset.toLong + p.limit)
      case Some(p) =>
        if (p.offset > 0) groupedOrSorted.offset(p.offset).limit(p.limit)
        else groupedOrSorted.limit(p.limit)
      case None => params.cursor match {
        case Some(cur) => groupedOrSorted.limit(cur.limit)
        case None if radiusSearch                         => groupedOrSorted
        case None if queryMaximumResults >= Int.MaxValue  => groupedOrSorted
        case None => groupedOrSorted.limit(queryMaximumResults.toInt)
      }
    }

    // Selection{MMR}: terminal diversification of the bounded page
    // (reference: explorer.go:280-283 — MMR diversifies the relevance
    // window and returns its top MMR.Limit; selection/mmr.go formula)
    val mmrSelected = params.selectionMmr match {
      case Some(sm) =>
        require(params.pagination.isDefined || params.cursor.isDefined,
          "selection.mmr requires a bounded page (set pagination or cursor)")
        require(paged.columns.contains(VectorSearch.DistanceCol) ||
            paged.columns.contains(HybridSearch.ScoreCol),
          "selection.mmr requires a vector search leg (query distances)")
        // hybrid pages carry a fused SCORE, not a query distance — the
        // reference's post-fusion MMR converts it to pseudo-distances
        // d = 1 − (score−min)/(max−min), 0 on a flat range
        // (selection_hybrid.go:173-196 normalizedScoreDistances); the
        // min/max window is over the bounded page only. Boosted pages take
        // the SAME score path even when a raw distance exists
        // (relevanceFromDist = boost==nil — explorer.go:322).
        val relFromDist = paged.columns.contains(VectorSearch.DistanceCol) && !boostActive
        val relCol = if (relFromDist) VectorSearch.DistanceCol else "__mmr_rel"
        val pagedD =
          if (relFromDist) paged
          else {
            val w = org.apache.spark.sql.expressions.Window.partitionBy(lit(0))
            val sc = col(HybridSearch.ScoreCol).cast("float")
            val mn = min(sc).over(w)
            val mx = max(sc).over(w)
            paged.withColumn(relCol,
              when(mx > mn, lit(1.0f) - (sc - mn) / (mx - mn)).otherwise(lit(0.0f)))
          }
        // the active leg's targetVectors pick BOTH the diversity vector
        // column and the metric — a leg over a named non-default vector
        // must not be diversified against the default vector's column
        val legMetric = leg.flatMap(_.vectorMetric).getOrElse(c.schema.metricFor(legTarget))
        Mmr.diversify(pagedD, id, c.schema.vectorColumn(legTarget),
          relCol, sm.balance, sm.limit, legMetric)
          .drop("__mmr_rel") // pseudo-distances never project
      case None => paged
    }

    // rerank runs over the POST-pagination page (reference:
    // provider_ranker.go — an _additional property over the final result
    // list), so its desc re-sort is bounded by `limit`, never the collection
    val reranked = params.rerank match {
      case Some(r) =>
        val prop = c.schema.property(r.property).getOrElse(
          throw new IllegalArgumentException(s"unknown rerank property ${r.property}"))
        require(prop.dataType == PropType.Text,
          s"rerank property ${r.property} must be text (reference: rank_result.go:49-57 " +
          "extracts only string-valued properties)")
        Rerank(mmrSelected, col(id), col(r.property), r.query, reranker)
      case None => mmrSelected
    }

    // generate (`_additional { generate }`) decorates the final page like
    // rerank (reference: AdditionalPropertyFn over the result list)
    val generated = params.generate match {
      case Some(gp) =>
        val single = gp.singlePrompt
          .map(pr => Generate.single(reranked, pr, generateResolve(c), generator))
          .getOrElse(reranked)
        gp.groupedTask match {
          case Some(task) =>
            // the grouped prompt embeds EVERY result's properties and the
            // client runs once driver-side — only a paginated page bounds it
            require(params.pagination.isDefined || params.cursor.isDefined,
              "generate.groupedTask requires a bounded page (set pagination or cursor)")
            val names = if (gp.groupedProperties.nonEmpty) gp.groupedProperties
                        else c.schema.properties.map(_.name)
            Generate.grouped(single, col(id), task,
              names.map(n => n -> generateResolve(c)(n)), generator)
          case None => single
        }
      case None => reranked
    }

    // summary (`_additional { summary }`, sum-transformers) and answer
    // (`_additional { answer }`, qna-transformers) decorate the final page
    // like rerank/generate — per-result module output over the bounded page
    val summarized = params.summary match {
      case Some(sp) =>
        val props = sp.properties.map { n =>
          val p = c.schema.property(n).getOrElse(
            throw new IllegalArgumentException(s"unknown summary property $n"))
          require(p.dataType == PropType.Text,
            s"summary property $n must be text (summary_result.go:50-56 " +
            "extracts only string-valued properties)")
          n -> col(n)
        }
        Summarize.attach(generated, props, summarizer)
      case None => generated
    }
    val answered = params.ask match {
      case Some(ap) =>
        val names =
          if (ap.properties.nonEmpty) ap.properties
          else c.schema.properties.filter(_.dataType == PropType.Text).map(_.name)
        names.foreach { n =>
          require(c.schema.property(n).exists(_.dataType == PropType.Text),
            s"ask property $n must be a text property of ${c.schema.name}")
        }
        Qna.attach(summarized, names.map(n => n -> col(n)), ap.question,
          client = qnaClient)
      case None => summarized
    }
    // spellCheck is QUERY-scoped: one literal entry per query text, attached
    // to every page row (spellcheck_result.go:30-48)
    val spellchecked =
      if (!params.additional.contains("spellCheck")) answered
      else {
        val (argName, texts) = near.flatMap(_.concepts).map(("nearText", _))
          .orElse(params.ask.map(a => ("ask", Seq(a.question))))
          .getOrElse(throw new IllegalArgumentException(
            "spellCheck requires a nearText or ask argument"))
        val fix = spellchecker.getOrElse(throw new IllegalStateException(
          "spellCheck requires a registered spellchecker (withSpellchecker)"))
        answered.withColumn(SpellChecks.Col,
          SpellChecks.additional(argName, texts, fix))
      }
    val nerTagged = params.ner match {
      case Some(np) =>
        np.properties.foreach { n =>
          require(c.schema.property(n).exists(_.dataType == PropType.Text),
            s"tokens property $n must be a text property of ${c.schema.name}")
        }
        Ner.attach(spellchecked, np.properties.map(n => n -> col(n)), nerClient,
          np.certainty, np.limit)
      case None => spellchecked
    }

    // featureProjection (`_additional { featureProjection }`) reduces the
    // final page's vectors to 2-3 plot coordinates via driver-side t-SNE,
    // exactly the reference's projector module scope (projector.go Reduce
    // runs over the returned results only) — the grouped-generate bounded-
    // page rule applies for the same reason: the reduction collects the page
    val fpParams = params.featureProjection.orElse(
      if (params.additional.contains("featureProjection"))
        Some(graft.model.FeatureProjectionParams()) else None)
    val projected = fpParams match {
      case Some(fp) =>
        require(params.pagination.isDefined || params.cursor.isDefined,
          "featureProjection requires a bounded page (set pagination or cursor)")
        FeatureProjection.attach(nerTagged, id, c.schema.vectorColumn(None), fp)
      case None => nerTagged
    }

    // contextionary additional props (module boundary: withConcepts).
    // Both resolve the vector column from the active leg's targetVectors —
    // the same named-vector rule as selection.mmr above.
    def legVecCol: String = c.schema.vectorColumn(legTarget)
    // interpretation re-derives the SAME vectorizer corpus the embedding
    // came from (VectorizerCorpus default config — the text2vec rule) and
    // explains it per result; a pure column expression, no module needed
    val interpreted =
      if (!params.additional.contains("interpretation")) projected
      else {
        val textProps = c.schema.properties.collect {
          case p if p.dataType == graft.model.PropType.Text =>
            (p.name, col(p.name), false)
          case p if p.dataType == graft.model.PropType.Arr(graft.model.PropType.Text) =>
            (p.name, col(p.name), true)
        }
        val corpus = graft.sources.VectorizerCorpus.column(c.name,
          textProps.map(t => (t._1, t._2)),
          textArrays = textProps.filter(_._3).map(_._1).toSet,
          cfg = graft.sources.VectorizerCorpus.Config(
            vectorizeClassName = c.schema.vectorizeClassName))
        Contextionary.attachInterpretation(projected, corpus)
      }

    val withNeighbors =
      if (!params.additional.contains("nearestNeighbors")) interpreted
      else Contextionary.attachNeighbors(interpreted, legVecCol,
        conceptsOrFail("nearestNeighbors"))
    val semPathed =
      if (!params.additional.contains("semanticPath")) withNeighbors
      else {
        val voc = conceptsOrFail("semanticPath")
        require(params.pagination.isDefined || params.cursor.isDefined,
          "semanticPath requires a bounded page (set pagination or cursor)")
        // validate the REQUESTED limit before any work — the reference
        // rejects from the request params (builder_params.go:25-37), not
        // after materializing the page
        val reqLimit = params.pagination.map(_.limit)
          .orElse(params.cursor.map(_.limit)).get
        require(reqLimit <= 25,
          s"result length $reqLimit is larger than 25 items: semantic path " +
          "calculation is only suported up to 25 items, set a limit to <= 25")
        // the walk starts at the SEARCH vector — nearX-only, like the
        // reference (builder_params.go: "no valid search vector present")
        val searchVec = near.map(_.query.queryFor(0)).getOrElse(throw new IllegalArgumentException(
            "no valid search vector present — semanticPath is only supported " +
            "on nearXXX queries"))
        Contextionary.attachPath(withNeighbors, id, legVecCol, searchVec, voc)
      }

    // the ref-expansion joins below do not preserve row order, so the page
    // re-asserts its final ordering afterwards (the reference resolves
    // beacons per already-ordered result object — refcache/resolver.go —
    // and never reorders). Skipped when rerank/MMR imposed their own
    // post-page order (their rank columns carry it instead).
    val resolved = resolveRefs(c, params, semPathed)
    val reordered =
      if (params.resolveRefs.isEmpty || params.rerank.isDefined ||
          params.selectionMmr.isDefined) resolved
      else resolved.orderBy(pageOrder: _*)
    project(c, params, reordered.drop(HybridSearch.SecondaryCol)) // a rank key, never projected
  }

  /** Property → prompt-text column for generate templating (reference:
   * generate_result.go:140-180 getProperties — strings pass through, complex
   * values JSON-marshal, primitives stringify). */
  private def generateResolve(c: Collection)(name: String): Column = {
    val p = c.schema.property(name).getOrElse(
      throw new IllegalArgumentException(s"unknown generate property $name"))
    p.dataType match {
      case PropType.Text | PropType.Uuid                 => col(name)
      case PropType.Obj | _: PropType.Arr | PropType.Geo
         | PropType.Phone                                => to_json(col(name))
      case _                                             => col(name).cast("string")
    }
  }

  /**
   * Cross-reference resolution: expand cref properties into structs of the
   * target object's properties (reference: refcache/resolver.go:51 — the
   * post-search beacon lookup fan-out; here a hash join keyed on the target
   * id, one join per resolved ref property).
   *
   * Join side choice mirrors KnnJoin.bucketed: the broadcast hint is only
   * applied when Catalyst's stats estimate fits the 64 MB broadcast budget.
   * Typical targets are dimension-sized (broadcast wins and the result side
   * never shuffles), but a cref can point at another 100 TB fact collection —
   * forcing broadcast there OOMs the driver, so large targets take a plain
   * equi-join and AQE picks the shuffle strategy. The result side of a Get is
   * usually limit-bounded anyway, so the shuffle is k rows vs the target.
   */
  private def resolveRefs(c: Collection, params: GetParams, df: DataFrame): DataFrame =
    params.resolveRefs.foldLeft(df) { (d, refName) =>
      val refProp = c.schema.property(refName).getOrElse(
        throw new IllegalArgumentException(s"unknown ref property $refName"))
      require(refProp.dataType == PropType.Ref, s"$refName is not a cref property")
      if (refProp.isMultiRef) resolveMultiRef(c, params, d, refName, refProp)
      else resolveSingleRef(c, params, d, refName, refProp)
    }

  /** `_additional` metadata fields of a resolved ref TARGET, on request only
   * (local_get_with_additional_test.go's "in reference" arms) — requesting
   * them lazily keeps unrequested resolutions from dragging wide vector
   * columns through the ref join. */
  private def refMetaFields(target: Collection,
                            want: Set[String]): Seq[(String, Column)] =
    Seq(
      if (want("id")) Some("_refid" -> col(target.schema.idColumn).cast("string")) else None,
      if (want("vector"))
        scala.util.Try(target.schema.vectorColumn(None)).toOption
          .map(v => "_refvector" -> col(v))
      else None,
      if (want("creationTimeUnix"))
        target.schema.creationTimeColumn.map(t => "_refcreated" -> col(t))
      else None,
      if (want("lastUpdateTimeUnix"))
        target.schema.updateTimeColumn.map(t => "_refupdated" -> col(t))
      else None).flatten

  private def resolveSingleRef(c: Collection, params: GetParams, d: DataFrame,
                               refName: String, refProp: Property): DataFrame = {
      val target = collection(refProp.refTarget.get)
      val meta = refMetaFields(target,
        params.refAdditional.getOrElse(refName, Set.empty))
        .map { case (n, mc) => mc.as(n) }
      val targetCols = struct(
        meta ++ target.schema.properties.map(p => col(p.name)): _*)
      val lookup = target.df.select(
        col(target.schema.idColumn).as("__ref_target_id"),
        targetCols.as(s"${refName}_resolved"))
      val fits = lookup.queryExecution.optimizedPlan.stats.sizeInBytes <=
        BigInt(64L * 1024 * 1024)
      val hinted = if (fits) broadcast(lookup) else lookup
      d.schema(refName).dataType match {
        // multi-edge (beacon-list) layout — the same array crefs the filter
        // path walks (compileRefLeaf): explode edges, resolve each, and
        // re-collect IN EDGE ORDER; unresolved beacons drop (the read-path
        // twin of BatchReferences' dropped-edge rule), no-ref rows stay null
        case _: org.apache.spark.sql.types.ArrayType =>
          val idc = c.schema.idColumn
          val edges = d.select(col(idc).as("__rr_src"),
            posexplode(col(refName)).as(Seq("__rr_pos", "__rr_fk")))
          val resolved = edges
            .join(hinted, col("__rr_fk") === col("__ref_target_id"), "inner")
            .groupBy(col("__rr_src"))
            .agg(transform(array_sort(collect_list(struct(
                col("__rr_pos").as("p"), col(s"${refName}_resolved").as("v")))),
              e => e.getField("v")).as(s"${refName}_resolved"))
            .withColumnRenamed("__rr_src", idc)
          d.join(resolved, Seq(idc), "left")
        case _ =>
          d.join(hinted, d(refName) === col("__ref_target_id"), "left")
            .drop("__ref_target_id")
      }
    }

  /**
   * Multi-class cref resolution (reference: entities/models MultipleRef —
   * one beacon list mixing target classes; regression
   * test/acceptance/graphql_resolvers/multi_reftype_bug_test.go). Beacons
   * may be short (`weaviate://localhost/<uuid>`) or class-qualified
   * (`weaviate://localhost/<Class>/<uuid>`); bare-uuid and `Class/uuid`
   * edge encodings are tolerated too. Resolution scope = the classes named
   * by the query's inline fragments (params.refTargetClasses), defaulting to
   * every declared target. One lookup frame per requested class, UNIONed
   * column-aligned, then the same explode → hash-join → edge-order
   * re-collect as single-class refs (the equi-key is the uuid; the
   * class-match predicate rides as a join filter). A class-qualified beacon
   * matches only its own class; a short beacon matches whichever requested
   * class holds the uuid — the reference's cross-class uuid lookup. Rows
   * with no matching edge stay NULL (the acceptance `toTargets: nil` shape).
   *
   * Resolved struct = `_refclass`/`_refid` + the UNION of the requested
   * classes' properties (absent props null, the first-declaring class fixes
   * a shared name's Spark type) — so fragment selections and
   * `_additional { id }` serve from one struct without a second join.
   */
  private def resolveMultiRef(c: Collection, params: GetParams, d: DataFrame,
                              refName: String, refProp: Property): DataFrame = {
    val declared = refProp.allRefTargets
    val requested0 = params.refTargetClasses.getOrElse(refName, Nil)
    val requested = if (requested0.isEmpty) declared else requested0
    requested.find(!declared.contains(_)).foreach { t =>
      throw new IllegalArgumentException(
        s"class '$t' is not a linked class of property '$refName' " +
        s"(linked: ${declared.mkString(", ")})")
    }
    val targets = requested.map(collection)
    val fieldOrder = targets.flatMap(_.schema.properties.map(_.name)).distinct
    val fieldType: Map[String, org.apache.spark.sql.types.DataType] =
      targets.reverse.flatMap(t => t.schema.properties.map(p =>
        p.name -> t.df.schema(p.name).dataType)).toMap // reverse → first declaring class wins
    val resolvedName = s"${refName}_resolved"
    // "id" excluded: _refid is a standing field of multi-ref structs
    val want = params.refAdditional.getOrElse(refName, Set.empty) - "id"
    // requested target metadata, union-aligned: the first target class
    // carrying a column fixes its Spark type; classes without it go null
    val metaType: Map[String, org.apache.spark.sql.types.DataType] =
      targets.reverse.flatMap(t => refMetaFields(t, want).map { case (n, mc) =>
        n -> t.df.select(mc).schema.head.dataType
      }).toMap
    val lookup = targets.map { t =>
      val present = refMetaFields(t, want).toMap
      val meta = metaType.keys.toSeq.sorted.map(n =>
        present.get(n).map(_.as(n)).getOrElse(lit(null).cast(metaType(n)).as(n)))
      val fields = Seq(
        lit(t.schema.name).as("_refclass"),
        col(t.schema.idColumn).cast("string").as("_refid")) ++ meta ++
        fieldOrder.map { f =>
          if (t.schema.property(f).isDefined) col(f).cast(fieldType(f)).as(f)
          else lit(null).cast(fieldType(f)).as(f)
        }
      t.df.select(
        col(t.schema.idColumn).cast("string").as("__ref_target_id"),
        lit(t.schema.name).as("__ref_target_cls"),
        struct(fields: _*).as(resolvedName))
    }.reduce(_ unionByName _)
    val fits = lookup.queryExecution.optimizedPlan.stats.sizeInBytes <=
      BigInt(64L * 1024 * 1024)
    val hinted = if (fits) broadcast(lookup) else lookup
    val idc = c.schema.idColumn
    // beacon → (class?, uuid): strip any scheme://host/ prefix, then the last
    // segment is the uuid and a preceding segment is the class condition
    val stripped = regexp_replace(col("__rr_beacon"), "^[a-z][a-z0-9+.-]*://[^/]*/", "")
    val edges = d
      .select(col(idc).as("__rr_src"),
        posexplode(col(refName)).as(Seq("__rr_pos", "__rr_beacon")))
      .withColumn("__rr_cls",
        when(instr(stripped, "/") > 0, split(stripped, "/").getItem(0)))
      .withColumn("__rr_id", lower(element_at(split(stripped, "/"), -1)))
    val resolved = edges
      .join(hinted,
        col("__rr_id") === col("__ref_target_id") &&
          (col("__rr_cls").isNull || col("__rr_cls") === col("__ref_target_cls")),
        "inner")
      .groupBy(col("__rr_src"))
      .agg(transform(array_sort(collect_list(struct(
          col("__rr_pos").as("p"), col(resolvedName).as("v")))),
        e => e.getField("v")).as(resolvedName))
      .withColumnRenamed("__rr_src", idc)
    d.join(resolved, Seq(idc), "left")
  }

  /** One boost condition → its [0,1] score column (boost_scorer.go
   * scoreResult arms). Filters evaluate IN MEMORY over the pool's own
   * columns (matchesClause — never an index probe); time decays measure
   * |prop − origin| in NANOSECONDS against Go-duration scale/offset
   * strings; numeric decays in raw units; propertyValue min-max normalizes
   * over the pool after its modifier. A NULL property scores 0 in every
   * arm. */
  private def boostConditionScore(c: Collection, bc: BoostCondition): Column = {
    import graft.operators.Boost
    def predicate(w: Where): Column = w.op match {
      case WhereOp.And => w.operands.map(predicate).reduceOption(_ && _).getOrElse(lit(true))
      case WhereOp.Or  => w.operands.map(predicate).reduceOption(_ || _).getOrElse(lit(false))
      case WhereOp.Not => !w.operands.map(predicate).reduceOption(_ || _).getOrElse(lit(false))
      case _           => filterCompiler.leaf(c.schema, w)
    }
    // parseOriginAsTime's layouts (boost_scorer.go:37-41, 606-616)
    def originNs(origin: String): Double = origin match {
      case "" | "now" => System.currentTimeMillis() * 1e6
      case o =>
        val inst =
          try java.time.OffsetDateTime.parse(o).toInstant
          catch { case _: Exception =>
            try java.time.LocalDateTime.parse(o).atOffset(java.time.ZoneOffset.UTC).toInstant
            catch { case _: Exception =>
              java.time.LocalDate.parse(o).atStartOfDay(java.time.ZoneOffset.UTC).toInstant } }
        inst.getEpochSecond * 1e9 + inst.getNano
    }
    bc.filter.map(w => when(predicate(w), lit(1.0)).otherwise(lit(0.0)))
      .orElse(bc.timeDecay.map { td =>
        val dist = abs(col(td.property).cast("double") * 1e9 - originNs(td.origin))
        // an unparseable offset silently reads 0; an unparseable scale
        // invalidates the condition → uniform 0 (boost_scorer.go:479-487)
        val offset =
          try Boost.parseNumericOrDuration(td.offset)
          catch { case _: NumberFormatException => 0.0 }
        try Boost.decayScore(dist, offset,
          Boost.parseNumericOrDuration(td.scale), td.curve, td.decayValue)
        catch { case _: NumberFormatException => lit(0.0) }
      })
      .orElse(bc.numericDecay.map { nd =>
        val dist = abs(col(nd.property).cast("double") - nd.origin)
        Boost.decayScore(dist, nd.offset, nd.scale, nd.curve, nd.decayValue)
      })
      .orElse(bc.propertyValue.map(pv =>
        Boost.propertyValueScore(col(pv.property), pv.modifier)))
      .getOrElse(throw new IllegalArgumentException(
        "boost condition must set exactly one of filter | timeDecay | numericDecay | propertyValue"))
  }

  def aggregate(params: AggregateParams): DataFrame =
    aggregateAs(rbacPrincipal, params)

  /** Aggregate under an explicit per-request principal (see getAs). */
  def aggregateAs(principal: Option[Rbac.Principal],
                  params: AggregateParams): DataFrame = {
    authorizeRbac(principal, Rbac.ReadData,
      Seq(Rbac.objects(rbacName(params.collection), params.tenant.getOrElse(""))))
    val c = collection(params.collection)
    // a nearX leg wins over hybrid, as in Get's dispatch order
    val leg = searchLegs(c, params).map(resolveMetrics(c, _)).headOption
    if (params.tenant.isEmpty && tenantRegistryHas(c.name))
      throw new IllegalArgumentException(
        s"class ${c.name} has multi-tenancy enabled, but request was without tenant")
    checkTenant(c.name, params.tenant)
    val tenanted = (params.tenant, c.schema.tenantColumn) match {
      case (Some(t), Some(tc)) => c.df.filter(col(tc) === lit(t))
      case _                   => c.df
    }
    val filtered = params.where match {
      case Some(w) => Some(filterCompiler(tenanted, c.schema, w))
      case None    => if (tenanted eq c.df) None else Some(tenanted)
    }
    // objectLimit + nearX/hybrid: aggregate over top-N search hits
    // (reference: aggregator/hybrid.go:27-67, vector_search.go). The vector
    // scoping routes through the same index-aware planner as Get — an
    // aggregation over the top-N of 100 TB must not brute-force the scan.
    // nearObject/nearText resolve to a vector exactly like Get's legs
    // (reference: traverser_aggregate.go:60-105 resolves every nearX family
    // before handing one vector to the aggregator).
    // scope validation runs BEFORE leg resolution (the reference's
    // traverser_aggregate.go:74 check precedes the module/object lookups —
    // local_aggregate_with_expected_failures.go's nearObject arm uses an id
    // that exists nowhere and still gets THIS error, not object-not-found)
    val scoped: Option[DataFrame] = leg match {
      // verbatim reference text, no require() prefix (traverser_aggregate.go:74)
      case Some(n: SearchLeg.Near) if !(params.objectLimit.isDefined || n.radius) =>
        throw new IllegalArgumentException(
          "must provide certainty or objectLimit with vector search")
      case Some(n: SearchLeg.Near) =>
        Some(denseServe(c, n.query, params.objectLimit, filtered))
      case Some(f: SearchLeg.Fused) =>
        // the AGGREGATE keyword leg silently drops unsearchable props
        // (ChooseSearchableProperties — aggregator/filtered.go:142,
        // aggregator/hybrid.go:55) where the Get path errors (WEAVIATE-471)
        val h = f.resolved.copy(properties = f.resolved.properties.filter { p =>
          c.schema.property(p.split('^').head).exists(_.hasSearchableIndex)
        })
        // hybrid legs route through the same planners as Get's (postings for
        // the sparse leg, registered ANN index + selectivity for the dense);
        // without objectLimit the pool is the bounded
        // QueryHybridMaximumResults of 100 (aggregator/filtered.go:61-64
        // defaultLimit, environment.go DefaultQueryHybridMaximumResults)
        Some(HybridSearch.search(c, h, h.metric, params.objectLimit.getOrElse(100),
          filtered = filtered,
          denseSearch = Some((nv, n) => denseServe(c, nv, Some(n), filtered)),
          sparseSearch = Some((kw, n) =>
            bm25Serve(c, kw, n, filtered.getOrElse(c.df), hitsOnly = true)))
          .drop(HybridSearch.SecondaryCol))
      case _ => filtered
    }
    Aggregations.run(c, params, scoped)
  }

  /** Projection + _additional decoration (reference: search_get.proto:77-110). */
  private def project(c: Collection, params: GetParams, df: DataFrame): DataFrame = {
    if (params.properties.isEmpty && params.additional.isEmpty &&
        params.additionalVectors.isEmpty) df
    else {
      val id = c.schema.idColumn
      val props = if (params.properties.nonEmpty) params.properties
                  else c.schema.properties.map(_.name).filter(df.columns.contains)
      val additional: Seq[Column] = params.additional.toSeq.sorted.flatMap {
        // per-term BM25 contribution columns (reference: _additional
        // explainScore, index.go:2266-2291); names are _exp_<term>
        case "explainScore" =>
          // df(name), not col(name): a query term containing '.' (e.g.
          // "v1.2" under Field tokenization) would parse as struct access.
          // Hybrid pages carry the fusion's own ready-made explanation
          // string (hybrid_fusion.go builds ExplainScore inline)
          df.columns.filter(c => c.startsWith("_exp_") ||
            c == graft.operators.HybridSearch.ExplainCol).sorted.map(df(_)).toSeq
        case "id" => Some(col(id).as("_id"))
        case "distance" if df.columns.contains(VectorSearch.DistanceCol) => Some(col(VectorSearch.DistanceCol))
        case "certainty" if df.columns.contains(VectorSearch.DistanceCol) =>
          Some((lit(1.0) - col(VectorSearch.DistanceCol) / 2.0).as(VectorSearch.CertaintyCol))
        case "score" if df.columns.contains(Bm25Search.ScoreCol) => Some(col(Bm25Search.ScoreCol))
        case "score" if df.columns.contains(HybridSearch.ScoreCol) => Some(col(HybridSearch.ScoreCol).as("_score"))
        // vector=true returns EVERY space (additional_properties vector):
        // the default space keeps the legacy `_vector` column; on a
        // multi-space class the remaining named spaces ride as
        // `_vectors_<name>` (reference MetadataResult.vectors — a
        // named-vectors-only class, defaultVector=None, serves ALL spaces
        // named and no legacy vector, grpc_named_vectors_test.go)
        case "vector" if c.schema.vectors.nonEmpty => {
          val default = c.schema.defaultVector.orElse(
            if (c.schema.vectors.size == 1) c.schema.vectors.keys.headOption else None)
          val legacy = default.map(d => col(c.schema.vectors(d)).as("_vector"))
          val named = c.schema.vectors.keys.toSeq.sorted.filterNot(default.contains)
            .map(n => col(c.schema.vectors(n)).as(s"_vectors_$n"))
          legacy.toSeq ++ named
        }
        // metadata timestamps (reference: _additional { creationTimeUnix
        // lastUpdateTimeUnix }, additional_properties.go) — only for
        // collections that declare the columns, like the reference's
        // indexTimestamps gate
        case "rerank" if df.columns.contains(Rerank.ScoreCol) => Some(col(Rerank.ScoreCol))
      case "summary" if df.columns.contains(Summarize.Col) => Some(col(Summarize.Col))
      case "answer" if df.columns.contains(Qna.Col) => Some(col(Qna.Col))
      case "tokens" if df.columns.contains(Ner.Col) => Some(col(Ner.Col))
      case "spellCheck" if df.columns.contains(SpellChecks.Col) => Some(col(SpellChecks.Col))
        case "featureProjection" if df.columns.contains(FeatureProjection.Col) =>
          Some(col(FeatureProjection.Col))
        case "nearestNeighbors" if df.columns.contains(Contextionary.NeighborsCol) =>
          Some(col(Contextionary.NeighborsCol))
        case "semanticPath" if df.columns.contains(Contextionary.PathCol) =>
          Some(col(Contextionary.PathCol))
        case "interpretation" if df.columns.contains(Contextionary.InterpretationCol) =>
          Some(col(Contextionary.InterpretationCol))
        // object-level classification meta written by Classify.knnJob
        // (reference: _additional { classification },
        // entities/additional/classification.go)
        case "classification" if df.columns.contains(graft.pipeline.Classify.MetaCol) =>
          Some(col(graft.pipeline.Classify.MetaCol))
        case "creationTimeUnix" =>
          c.schema.creationTimeColumn.map(t => col(t).as("_creationTimeUnix"))
        case "lastUpdateTimeUnix" =>
          c.schema.updateTimeColumn.map(t => col(t).as("_lastUpdateTimeUnix"))
        case _ => None
      }
      // explicitly requested named spaces (MetadataRequest.vectors) — each
      // becomes a name-tagged `_vectors_<name>` column, independent of the
      // vector=true matrix above
      val namedReq: Seq[Column] = params.additionalVectors.distinct
        .filterNot(n => params.additional.contains("vector") &&
          !c.schema.defaultVector.contains(n) && c.schema.vectors.size > 1)
        .map { n =>
          val vc = c.schema.vectors.getOrElse(n, throw new IllegalArgumentException(
            s"unknown named vector $n on collection ${c.name}"))
          col(vc).as(s"_vectors_$n")
        }
      val groupCols = (Seq("group_value", "group_index", "group_hit_rank",
          "group_min_distance", "group_max_distance", "_mmr_rank")
        ++ Seq(Generate.SingleCol, Generate.GroupedCol))
        .filter(df.columns.contains).map(col)
      val resolvedCols = params.resolveRefs.map(r => s"${r}_resolved")
        .filter(df.columns.contains).map(col)
      df.select((props.map(col) ++ additional ++ namedReq ++ resolvedCols ++ groupCols): _*)
    }
  }

  private def resolveSortCol(c: Collection, p: String,
      sortFail: String => Nothing = msg => throw new IllegalArgumentException(msg)): Column = p match {
    // "id" is the backwards-compat alias (sorter/datatypes_helper.go:39)
    case "_id" => col(c.schema.idColumn)
    case "id" if c.schema.property("id").isEmpty => col(c.schema.idColumn)
    // timestamp pseudo-paths (reference: sorter/dataTypesHelper maps the
    // special names onto the object's metadata timestamps)
    case "_creationTimeUnix" => col(c.schema.creationTimeColumn.getOrElse(
      throw new IllegalArgumentException(s"${c.schema.name} has no creation-time column")))
    case "_lastUpdateTimeUnix" => col(c.schema.updateTimeColumn.getOrElse(
      throw new IllegalArgumentException(s"${c.schema.name} has no update-time column")))
    case other => c.schema.property(other) match {
      case None if other == c.schema.idColumn => col(other) // raw id column by name
      case None =>
        sortFail(s"no such prop with name '$other' found in class '${c.schema.name}' " +
          "in the schema. Check your schema files for which properties in this class are available")
      case Some(prop) => prop.dataType match {
        case PropType.Ref =>
          sortFail("sorting by reference not supported, " +
            s"""property "$other" is a ref prop to the class "${prop.allRefTargets.mkString(", ")}"""")
        // geo sorts as the float pair [longitude, latitude]
        // (sorter/comparable_value_extractor.go:203-213); the key stays NULL
        // for null rows so asc_nulls_first/desc_nulls_last see one null, not
        // a struct of null fields
        case PropType.Geo =>
          when(col(other).isNotNull,
            struct(col(other).getField("lon").cast("double"),
                   col(other).getField("lat").cast("double")))
        // phone sorts as [countryCode, national] (extractor.go:199-201)
        case PropType.Phone =>
          when(col(other).isNotNull,
            struct(col(other).getField("countryCode").cast("long"),
                   col(other).getField("national").cast("long")))
        case _ => col(other)
      }
    }
  }

  private val defaultLimit = 25 // reference: QueryDefaults.LimitGraphQL
}

/** A request's one search leg, built once per Get/Aggregate (the
 * reference's traverser resolves its search params once, before the
 * searcher or aggregator runs: traverser_aggregate.go:60-105). */
private sealed trait SearchLeg {
  /** The leg's relevance, higher first: the boost primary and the autocut curve. */
  def score: Column
  /** The order the leg ranks its hits in. */
  def rankKeys(id: String): Seq[Column]
  /** The named vector the leg searches (None: the default vector, or no
   * vector for a keyword leg): selection.mmr, nearestNeighbors and
   * semanticPath read this vector's column. */
  def vectorTarget: Option[String] = None
  /** The metric the leg ranks that vector by, once resolved; None where the
   * class's configured metric applies (a keyword leg) or the vector is a
   * multi-vector scored by MaxSim. */
  def vectorMetric: Option[Metric] = None
}

private object SearchLeg {
  sealed trait ByDistance extends SearchLeg {
    def score: Column = -col(VectorSearch.DistanceCol) // distToScore
    def rankKeys(id: String): Seq[Column] = Seq(col(VectorSearch.DistanceCol).asc, col(id).asc)
  }

  /** nearVector | nearObject | nearText | nearMedia. `query` is the family
   * resolved to one vector, on first use and once; `concepts` are a
   * nearText's. */
  final case class Near(metric: Metric, distance: Option[Double], certainty: Option[Double],
                        targets: Seq[String], concepts: Option[Seq[String]] = None)(
                        val resolve: Metric => NearVector) extends ByDistance {
    lazy val query: NearVector = resolve(metric)
    override def vectorTarget: Option[String] = targets.headOption
    override def vectorMetric: Option[Metric] = Some(metric)
    /** A threshold (distance or certainty) makes an unpaged read a radius search. */
    def radius: Boolean = distance.orElse(certainty).isDefined
  }

  final case class MultiVector(nmv: NearMultiVector) extends ByDistance {
    override def vectorTarget: Option[String] = nmv.targetVectors.headOption
  }

  final case class Keyword(kw: Bm25) extends SearchLeg {
    def score: Column = col(Bm25Search.ScoreCol)
    def rankKeys(id: String): Seq[Column] = Seq(col(Bm25Search.ScoreCol).desc, col(id).asc)
  }

  /** hybrid; `resolved` has its nearText legs embedded, on first use and once. */
  final case class Fused(params: Hybrid)(val resolve: Hybrid => Hybrid) extends SearchLeg {
    lazy val resolved: Hybrid = resolve(params)
    def score: Column = col(HybridSearch.ScoreCol)
    override def vectorTarget: Option[String] = params.targetVectors.headOption
    override def vectorMetric: Option[Metric] = Some(params.metric)
    def rankKeys(id: String): Seq[Column] = HybridSearch.rankOrder(id)
  }
}
