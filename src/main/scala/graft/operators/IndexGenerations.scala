package graft.operators

import org.apache.spark.sql.SparkSession

/** Atomic GENERATION swap for persisted index directories — the
  * retrain/rebuild half of the index-maintenance story.
  *
  * Incremental maintenance ([[SimilaritySearch.applyIvfPqIndexChanges]],
  * [[LexicalIndex.applyBm25IndexChanges]]) keeps an index trailing its
  * corpus at delta cost, but some changes can only be a full rebuild:
  * retraining drifted IVF-PQ quantizers, re-bucketing BM25 postings, a
  * retention purge that must drop rows from every partition. Rebuilding
  * IN PLACE (overwrite the live dirs) tears the index under concurrent
  * readers — a searcher that has read the new codes against the old
  * codebooks computes garbage distances, silently.
  *
  * So a rebuild is a new GENERATION: the full index layout (codes +
  * quantizers + stats + its own fresh tombstone log) is built complete
  * and cold in `<dir>/gen-<n>-<uid>/`, then ONE swap claim
  * (`genswap-<k>`, an atomic put-if-absent naming it — the primitive
  * the merge tables' `commit-<n>` markers use) makes it live. Every
  * reader and every maintenance entry point resolves the claims first,
  * so the swap is atomic for all of them: a reader mid-search keeps the
  * OLD generation (untouched until [[vacuum]]), the next resolve gets
  * the new one, and incremental maintenance simply continues against
  * whichever generation it resolved. A directory with no claim IS its
  * own generation (the plain layout an initial build writes).
  *
  * Writer discipline: generation builds write only their own cold
  * subdir, so a rebuild may overlap live SEARCHES freely. It must not
  * overlap incremental APPLIES of the outgoing generation — their
  * updates survive in the old dir but are not in the rebuild input
  * (the documented lost-update of rebuilding from a moving corpus);
  * quiesce the applier across the cutover, as a checkpointed
  * change-feed consumer naturally does between micro-batches.
  * [[vacuum]] additionally requires no in-flight readers of superseded
  * generations (grace-period deletion, the merge tables' vacuum
  * contract). */
private[graft] object IndexGenerations {

  private val GenPrefix = "gen-"
  /** Dense swap-claim markers (r18): `genswap-<k>` files whose content
    * is a generation dir name. The live generation is the claimed one
    * with the highest GENERATION number (generation numbers are
    * monotonic via [[next]]). */
  private val SwapPrefix = "genswap-"
  /** The control file the pre-r18 swap renamed into place. It is no
    * longer written or read; a root holding it without any claim is
    * refused ([[swapClaims]]). */
  private val PreClaimPointer = "_gen"

  private def fsOf(spark: SparkSession, d: String) =
    org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(d), spark.sparkContext.hadoopConfiguration)

  private def genNumOf(name: String): Long = {
    val d = name.drop(GenPrefix.length).takeWhile(_.isDigit)
    if (d.isEmpty) 0L else d.toLong
  }

  /** One swap claim: its slot k, the generation it names ("" when
    * unreadable) and the marker's status (its mtime is the swap time). */
  private final case class Claim(slot: Long, gen: String,
      status: org.apache.hadoop.fs.FileStatus) {
    def valid: Boolean =
      gen.startsWith(GenPrefix) && !gen.contains("/") && !gen.contains("..")
  }

  /** The swap claims in a listing of an index root. A root that holds
    * the pre-claim `_gen` pointer but no claim was written by a swap
    * this code no longer reads: refused loudly instead of being served
    * as a plain layout. */
  private def swapClaims(fs: org.apache.hadoop.fs.FileSystem,
      root: org.apache.hadoop.fs.Path,
      listing: Seq[org.apache.hadoop.fs.FileStatus]): Seq[Claim] = {
    val claims = listing.collect {
      case st if st.isFile && st.getPath.getName.startsWith(SwapPrefix) =>
        val k = st.getPath.getName.drop(SwapPrefix.length).takeWhile(_.isDigit)
        Claim(if (k.isEmpty) 0L else k.toLong,
          graft.sources.Sources.readControlQuiet(fs, st.getPath), st)
    }
    if (claims.isEmpty && listing.exists(_.getPath.getName == PreClaimPointer))
      throw new IllegalStateException(
        s"index root $root holds a $PreClaimPointer pointer but no " +
          s"$SwapPrefix* claim — a pre-claim generation layout this " +
          "version cannot resolve; rebuild the index")
    claims
  }

  private def listing(fs: org.apache.hadoop.fs.FileSystem,
      root: org.apache.hadoop.fs.Path): Seq[org.apache.hadoop.fs.FileStatus] =
    if (!fs.exists(root)) Seq.empty else fs.listStatus(root).toSeq

  /** The live generation's claim: among valid claims, the highest
    * generation number — claim ORDER is irrelevant, so a stale claim
    * landing late can never shadow a newer generation. None = plain
    * layout. */
  private def liveClaim(claims: Seq[Claim]): Option[Claim] =
    claims.filter(_.valid).maxByOption(c => (genNumOf(c.gen), c.slot))

  /** The live generation dir: the one the swap claims name, else `dir`
    * itself (a plain layout, as an initial build writes it). */
  def resolve(spark: SparkSession, dir: String): String = {
    val fs = fsOf(spark, dir)
    val root = new org.apache.hadoop.fs.Path(dir)
    liveClaim(swapClaims(fs, root, listing(fs, root))) match {
      case None => dir
      case Some(c) =>
        val gen = new org.apache.hadoop.fs.Path(root, c.gen)
        require(fs.exists(gen),
          s"index generation claim under $dir names ${c.gen}, which does " +
            "not exist — vacuumed too eagerly?")
        gen.toString
    }
  }

  private def requireLogicalRoot(dir: String): Unit =
    require(!new org.apache.hadoop.fs.Path(dir).getName.startsWith(GenPrefix),
      s"$dir is itself a generation dir — rebuild/retrain against the " +
        "logical index root (the dir holding the generation claims), not " +
        "the generation it currently resolves to")

  /** Path for the next generation build (monotonic over live gen dirs;
    * uid suffix keeps racing builders from colliding on a dir). The
    * caller builds the full layout there, then [[swap]]s. */
  def next(spark: SparkSession, dir: String): String = {
    requireLogicalRoot(dir)
    val fs = fsOf(spark, dir)
    val root = new org.apache.hadoop.fs.Path(dir)
    val n = listing(fs, root).collect {
      case st if st.isDirectory && st.getPath.getName.startsWith(GenPrefix) =>
        genNumOf(st.getPath.getName)
    }.foldLeft(0L)(math.max) + 1L
    val uid = java.util.UUID.randomUUID().toString.take(8)
    new org.apache.hadoop.fs.Path(root, s"$GenPrefix$n-$uid").toString
  }

  /** Atomically point the index at a fully-built generation dir
    * (must be a direct child of `dir`, as [[next]] returns; `dir`
    * itself must not be a generation dir).
    *
    * A STALE SWAP GENUINELY CANNOT LAND (r18 — the r17 read-then-
    * rename forward check left the check-to-rename window, so two
    * truly concurrent swaps could still regress the pointer). The
    * swap is a dense-claim commit, the same createExclusive primitive
    * the merge tables serialize on:
    *
    *  1. refuse-if-stale pre-check: the resolved live generation is
    *     already newer → `ConcurrentModificationException`;
    *  2. claim the next `genswap-<k>` slot (atomic put-if-absent,
    *     content = the generation name; a lost slot just retries);
    *  3. verify: re-resolve — if the claim set now names a NEWER
    *     generation, a rival landed concurrently and this build is
    *     stale: refuse loudly (the claim stays, but it is INERT — see
    *     below).
    *
    * Readers resolve the claim set by highest GENERATION number, not
    * by slot or rename order, so even a stale claim that lands in the
    * verify window (its owner crashing mid-swap) can never shadow a
    * newer generation — regression is impossible by construction, not
    * merely unlikely. The claim is the whole commit. */
  def swap(spark: SparkSession, dir: String, genDir: String): Unit = {
    requireLogicalRoot(dir)
    val root = new org.apache.hadoop.fs.Path(dir)
    val gen = new org.apache.hadoop.fs.Path(genDir)
    require(gen.getParent != null &&
        gen.getParent.toUri.getPath == root.toUri.getPath &&
        gen.getName.startsWith(GenPrefix),
      s"generation $genDir is not a direct gen-* child of $dir")
    val fs = fsOf(spark, dir)
    require(fs.exists(gen),
      s"generation $genDir does not exist — build it before swapping")
    val uri = new java.net.URI(dir)
    val myNum = genNumOf(gen.getName)
    def claims(): Seq[Claim] = swapClaims(fs, root, listing(fs, root))
    def refuseIfStale(cs: Seq[Claim]): Unit = liveClaim(cs).foreach { live =>
      if (genNumOf(live.gen) > myNum)
        throw new java.util.ConcurrentModificationException(
          s"index generation swap on $dir: the claims already name ${live.gen} " +
            s"(newer than ${gen.getName}) — a rival rebuild finished first; " +
            "this build is stale, rebuild from the current corpus instead " +
            "of regressing readers to it")
    }
    var cs = claims()
    refuseIfStale(cs)
    var attempts = 0
    var claimed = false
    while (!claimed) {
      attempts += 1
      if (attempts > 20) throw new IllegalStateException(
        s"index generation swap on $dir lost ${attempts - 1} consecutive " +
          "slot claims — pathological swap contention; back off and retry")
      val k = (cs.map(_.slot) :+ 0L).max + 1
      claimed = graft.sources.Sources.createExclusiveClaim(fs, uri,
        new org.apache.hadoop.fs.Path(root, f"$SwapPrefix$k%012d"),
        gen.getName)
      // post-claim verify (and the lost-slot re-check): a rival that
      // landed since the pre-check is visible now; a won claim that
      // turns out stale stays but is never resolved
      cs = claims()
      refuseIfStale(cs)
    }
  }

  /** Root-level table dirs a plain (pre-generation) index layout may
    * hold — the union of the IVF-PQ and BM25 layouts plus the
    * tombstone log. Once a swap claim exists these are by definition
    * superseded (the first swap replaced the whole layout), so
    * [[vacuum]] may reclaim them; before r16 they leaked forever after
    * the first rebuild of a plain index. */
  private val PlainLayoutDirs = Set(
    "codes", "centroids", "codebooks", "drift", // IVF-PQ
    "postings", "forward", "doclen", "stats", "meta", // BM25
    "tombstones")

  /** Delete superseded index state: `gen-*` dirs the claims do not
    * name as live, the plain-layout table dirs the first swap
    * superseded, and swap claims naming an older generation. No-op on
    * a plain layout (no claim → nothing is superseded). Returns dirs
    * deleted (claim files not counted).
    *
    * Two classes of gen dir are NEVER deleted regardless of age:
    * the live generation, and any generation NUMBERED at or above it.
    * Generation numbers are monotonic ([[next]]), so a gen dir with a
    * number ≥ the live one is not superseded state — it is an
    * in-flight rebuild/retrain that has not swapped yet. The sinks'
    * maintenance ticks call vacuum on every micro-batch while the
    * scaladocs explicitly allow an offline rebuild to run
    * concurrently; age alone cannot distinguish a builder that has
    * been writing for an hour from a reader-abandoned old gen, the
    * number can.
    *
    * `graceMs` is the reader grace period: a superseded candidate is
    * deleted only when BOTH the last swap (the live generation's claim
    * marker mtime) and the candidate's own mtime are `graceMs` in the
    * past — any reader that resolved before the swap has had `graceMs`
    * to finish its scan, and a dir whose own mtime is fresh is still
    * being written by someone. `0` deletes eagerly (caller asserts no
    * in-flight readers). */
  def vacuum(spark: SparkSession, dir: String, graceMs: Long = 0L): Int = {
    val fs = fsOf(spark, dir)
    val root = new org.apache.hadoop.fs.Path(dir)
    val sts = listing(fs, root)
    val claims = swapClaims(fs, root, sts)
    val live = liveClaim(claims).getOrElse { return 0 }
    val now = System.currentTimeMillis()
    val swapAge = now - live.status.getModificationTime
    val liveNum = genNumOf(live.gen)
    // superseded swap claims: any claim naming a generation older than
    // live is inert (resolution is by max gen number) — only marker
    // litter. The live generation's claim(s) stay.
    claims.foreach { c =>
      if ((!c.valid || genNumOf(c.gen) < liveNum) &&
          now - c.status.getModificationTime >= graceMs)
        fs.delete(c.status.getPath, false): Unit
    }
    var deleted = 0
    sts.foreach { st =>
      val name = st.getPath.getName
      val age = now - st.getModificationTime
      if (st.isDirectory && name.startsWith(GenPrefix) && name != live.gen &&
          genNumOf(name) < liveNum && swapAge >= graceMs && age >= graceMs) {
        fs.delete(st.getPath, true); deleted += 1
      } else if (st.isDirectory && PlainLayoutDirs.contains(name) &&
          swapAge >= graceMs && age >= graceMs) {
        fs.delete(st.getPath, true); deleted += 1
      }
    }
    deleted
  }
}
