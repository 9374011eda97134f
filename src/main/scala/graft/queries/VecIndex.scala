package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.{detsum, vectors}

/** Train-once vector index shared by the ANN/quantization queries — the
  * FAISS IVFADC shape: an index is BUILT once (coarse quantizer + inverted
  * lists; PQ codebooks + codes) and then MANY searches run against it.
  * Training a fresh quantizer inside every query invocation is the wrong
  * cost model for a 100 TB index build; here the trained artifacts are
  * [[Artifacts]] of each (session, dataset), so q37 (IVF), q37b (IVF-PQ)
  * and q58b (PQ encode) all read the SAME index.
  *
  * Storage contract: the trained frames are deliberately long-lived — they
  * ARE the index (the cluster analog is a persisted index table). Centroid /
  * codebook frames are driver-side literals (LocalRelation — k·dim doubles),
  * so consumer plans can never re-trigger training; the inverted lists and
  * code table are localCheckpoint(true) frames whose build-time inputs are
  * freed synchronously once the artifact materializes. `reset()` drops the
  * whole index and its storage (used by the determinism specs to force a
  * retrain).
  *
  * Determinism: [[graft.operators.KMeans]] is deterministic under any
  * partitioning, so the index content does not depend on which query builds
  * it first. */
object VecIndex {

  /** Coarse half (IVF): `cent` = nlists cosine k-means centroids (literal
    * rows, with norm; nlists from [[nlistsFor]] — ≈√(n/19), floor 10),
    * `lists` = the inverted lists — every corpus vector with its
    * nearest-centroid list id, vectors stored in-list (the IVFFlat layout). */
  case class Coarse(cent: DataFrame, lists: DataFrame)

  /** PQ half: `codebooks` = 8 subspaces × 16 squared-L2 centroids (literal
    * rows, with ‖c‖²), `codes` = per (vector, subspace) the chosen code, its
    * ‖c‖² and the subspace reconstruction error — 64 doubles → 8 bytes. */
  case class Pq(codebooks: DataFrame, codes: DataFrame)

  /** PQ conventions shared by the trainer (q58b) and the searcher (q37b):
    * 64 dims → 8 subspaces × 8 dims; squared-L2 score 2·x·c − ‖c‖² (the x²
    * constant cancels in the argmax); -list_id tiebreak. ONE definition so
    * the encode convention cannot drift between them. */
  private[queries] val PqSubs = 8
  private[queries] val PqSubDim = 8

  /** Trainer hyperparameters, shared with [[VecOracle]] so the DuckDB
    * replay can never drift from what the trainer actually runs — tuning
    * either side alone would hash-mismatch every IVF/PQ oracle with no
    * compile-time signal. */
  private[queries] val CoarseRounds = 5

  /** nlists RULE — nlists tracks the corpus (≈√(n/19), floored at 10)
    * instead of a constant: a fixed nlists degenerates the IVF recall-cost
    * curve toward brute force as the corpus grows (at nlists=10 the
    * q37c high-recall search scanned 8/10 of ANY corpus). Under this rule
    * the test SFs keep nlists=10 (n ≤ 2000), the 10× derivation gets 32
    * (nprobe 8 ⇒ scan fraction 0.25 — measured recall@5 0.994 there, see
    * ANN_RECALL.md), and the fraction keeps shrinking ≈1/√n beyond.
    * The divisor 19 pins the smallest scale where the rule leaves the
    * floor to ~n=2300: just past the largest committed test SF, so every
    * committed oracle artifact stays byte-stable while any larger corpus
    * scales. ONE rule, two renderings: [[nlistsFor]] (trainer) and
    * [[nlistsSql]] (the DuckDB replay) — each is three correctly-rounded
    * IEEE ops (divide, sqrt, floor) on integer input, bit-identical across
    * engines. */
  private[queries] val NlistsFloor = 10
  private[queries] val NlistsDivisor = 19.0

  private[graft] def nlistsFor(n: Long): Int =
    math.max(NlistsFloor, math.floor(math.sqrt(n / NlistsDivisor)).toInt)

  /** The rule as a one-column (`kl`) SQL aggregate over `fromTable`. */
  private[queries] def nlistsSql(fromTable: String): String =
    s"SELECT GREATEST($NlistsFloor, CAST(FLOOR(SQRT(COUNT(*) / $NlistsDivisor)) AS INTEGER)) AS kl FROM $fromTable"
  private[queries] val PqK = 16
  private[queries] val PqRounds = 3

  /** (vec_id, emb: array<double>, nrm) corpus scan, spread across the
    * cluster (the embeddings table is a single file at test SFs). */
  private[queries] def corpus(s: SparkSession, d: String): DataFrame =
    Tables(s, d, "embeddings")
      .repartition(col("vec_id"))
      .select(col("vec_id"), vectors.toDoubleArr(col("embedding")).as("emb"))
      .withColumn("nrm", vectors.norm(col("emb")))

  /** (id, emb) → one row per (grp, id, subspace slice). */
  private[graft] def subvectors(df: DataFrame): DataFrame =
    df.select(col("id"), posexplode(
      transform(sequence(lit(0), lit(PqSubs - 1)),
        i => slice(col("emb"), i * PqSubDim + 1, lit(PqSubDim)))).as(Seq("grp", "emb")))
      .select(col("grp").cast("int").as("grp"), col("id"), col("emb"))

  /** Nearest-existing-list assignment — shared by build and [[append]] so
    * the assignment convention cannot drift between them. The centroid
    * frame is coordinator-sized by the storage contract (k literal rows, or
    * a `Tables.localize`d load), so it collapses into the scan as a scalar
    * argmax expression: the former crossJoin(broadcast)+max_by shape still
    * exchanged one row per vector to collapse the argmax — at 100 TB a
    * full-corpus shuffle for a per-row pure function. Tiebreak identical
    * (highest cosine, then smallest list_id). */
  private def assignToLists(vecs: DataFrame, cent: DataFrame): DataFrame = {
    val cs = cent.select(col("list_id"), col("cemb"), col("cnrm")).collect()
      .map(r => (r.getInt(0), r.getSeq[Double](1), r.getDouble(2))).toSeq.sortBy(_._1)
    vecs.select(
      vectors.argmaxCos(col("emb"), col("nrm"), cs).as("list_id"),
      col("vec_id"), col("emb"), col("nrm"))
  }

  /** PQ-encode subvectors against FROZEN codebooks — shared by build and
    * [[append]]. Codebooks are coordinator-sized literals (8 grps × 16
    * codes) folded into the fused `vec_argmax_l2` kernel — the assignment
    * convention [[graft.operators.KMeans.fitGrouped]] trains with, so
    * encoding is a pure projection of the subvector scan (the former
    * broadcast join + per-(grp,id) max_by shuffled 8 rows per vector). The
    * chosen code's c2 and centroid come from one literal (grp, code)
    * lookup for the reconstruction error. */
  private[graft] def encodeAgainst(subv: DataFrame, codebooks: DataFrame): DataFrame = {
    val cb: Map[Int, Seq[(Int, Seq[Double], Double)]] = codebooks
      .select(col("grp"), col("list_id"), col("cemb"), col("c2")).collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getSeq[Double](2), r.getDouble(3)))
      .groupBy(_._1).map { case (g, rows) =>
        g -> rows.sortBy(_._2).map(t => (t._2, t._3, t._4)).toSeq
      }
    val entry = element_at(
      element_at(typedLit(cb.map { case (g, es) => g -> es.map { case (l, ce, c2) => l -> (c2, ce) }.toMap }),
        col("grp")),
      col("code"))
    // The argmax runs in its own Project: the output references `code`
    // twice (c2 and the error lambda), and CollapseProject keeps a
    // non-cheap, multiply referenced producer apart, so the kernel
    // evaluates once per row.
    subv.select(col("id"), col("grp"), col("emb"),
        vectors.argmaxL2(col("emb"), col("grp"), cb).as("code"))
      .select(
        col("id").as("vec_id"), col("grp"), col("code"), entry.getField("_1").as("c2"),
        detsum.roundDet(
          aggregate(
            zip_with(col("emb"), entry.getField("_2"), (a, b) => (a - b) * (a - b)),
            lit(0.0), (acc, x) => acc + x) / PqSubDim, 9).as("sub_sq_err"))
  }

  def coarse(s: SparkSession, d: String): Coarse = Artifacts(s, d, "vec.coarse")(buildCoarse(s, d))

  private def buildCoarse(s: SparkSession, d: String): Coarse = {
    val c = corpus(s, d).localCheckpoint(true)
    // nlists from the corpus size: the count re-reads the materialized
    // checkpoint (2 jobs, no parquet scan)
    val k = nlistsFor(c.count())
    val cent = graft.operators.KMeans
      .fit(c.select(col("vec_id").as("id"), col("emb"), col("nrm")), k = k, rounds = CoarseRounds)
      .withColumn("cnrm", vectors.norm(col("cemb")))
    val lists = assignToLists(c, cent).localCheckpoint(true)
    Tables.freeCheckpoint(c) // the raw scan checkpoint fed training + assignment only
    Coarse(cent, lists)
  }

  def pq(s: SparkSession, d: String): Pq = Artifacts(s, d, "vec.pq")(buildPq(s, d))

  private def buildPq(s: SparkSession, d: String): Pq = {
    val subv = subvectors(corpus(s, d).select(col("vec_id").as("id"), col("emb")))
      .localCheckpoint(true) // reused by train AND encode
    val codebooks = graft.operators.KMeans.fitGrouped(subv, k = PqK, rounds = PqRounds)
      .withColumn("c2", vectors.dot(col("cemb"), col("cemb")))
    val codes = encodeAgainst(subv, codebooks).localCheckpoint(true)
    Tables.freeCheckpoint(subv)
    Pq(codebooks, codes)
  }

  /** Incremental index maintenance: add `newVecs` ((vec_id, embedding)) to
    * dataset `d`'s installed index WITHOUT retraining — new vectors are
    * assigned to their nearest EXISTING coarse list and PQ-encoded against
    * the FROZEN codebooks, exactly the daily-increment shape at 100 TB
    * (you rebuild codebooks on drift, never for an append). No training
    * jobs run: centroids/codebooks enter the append plans as the installed
    * driver-local literals. The appended lists/codes re-checkpoint and the
    * previous generation's storage is freed synchronously; a subsequent
    * [[save]] persists the appended index. */
  def append(s: SparkSession, d: String, newVecs: DataFrame): Unit = {
    val c = coarse(s, d)
    val p = pq(s, d)
    val nv = newVecs
      .select(col("vec_id"), vectors.toDoubleArr(col("embedding")).as("emb"))
      .withColumn("nrm", vectors.norm(col("emb")))
      .localCheckpoint(true) // feeds both the list assignment and the encode
    val lists = c.lists.unionByName(assignToLists(nv, c.cent)).localCheckpoint(true)
    val codes = p.codes.unionByName(
      encodeAgainst(subvectors(nv.select(col("vec_id").as("id"), col("emb"))), p.codebooks))
      .localCheckpoint(true)
    Tables.freeCheckpoint(nv)
    replace(s, d, Coarse(c.cent, lists), Pq(p.codebooks, codes))
  }

  /** Install `c`/`p` as (s, d)'s index, synchronously freeing the
    * checkpoint storage of whatever they displace (the generation swap
    * [[append]] and [[load]] do). Callers keep responsibility for the NEW
    * frames' lifecycle. */
  private[graft] def replace(s: SparkSession, d: String, c: Coarse, p: Pq): Unit = {
    Artifacts.put(s, d, "vec.coarse", c)
    Artifacts.put(s, d, "vec.pq", p)
  }

  /** Drop every trained index and free its storage (test hook: forces the
    * next access to retrain from scratch). */
  def reset(): Unit = Artifacts.dropAll("vec.")

  // ------------------------------------------------- persistence ----------
  // The cluster shape: an index is BUILT by one job and SEARCHED by many.
  // save/load round the artifacts through parquet — centroids/codebooks
  // re-enter as driver-local literals (the storage contract above), while
  // the big lists/codes tables come back as plain parquet scans (pruned and
  // pushed down like any table, and no longer pinned in executor storage).

  /** Persist the trained index (building it first if needed). No-op when
    * the installed index is already backed by `dir` (a save after load(dir)
    * would otherwise overwrite the very parquet paths the frames read —
    * Spark rejects that mid-write, after some artifacts are clobbered). */
  def save(s: SparkSession, d: String, dir: String): Unit = {
    val c = coarse(s, d)
    val p = pq(s, d)
    // skip only when one of the CONCRETE write paths would clobber a file
    // the installed frames read: a whole-dir prefix check false-skips both
    // sibling dirs (/tmp/idx vs /tmp/idx2) and ancestors (save to /tmp/run
    // after load from /tmp/run/idx — writing /tmp/run/{lists,...} clobbers
    // nothing there)
    val writeDirs = Seq("cent", "lists", "codebooks", "codes")
      .map(sub => new java.io.File(dir, sub).getAbsolutePath + java.io.File.separator)
    if ((c.lists.inputFiles ++ p.codes.inputFiles).exists { f =>
      val path = f.replaceFirst("^file:(//)?", "")
      writeDirs.exists(path.startsWith)
    }) return
    c.cent.write.mode("overwrite").parquet(s"$dir/cent")
    c.lists.write.mode("overwrite").parquet(s"$dir/lists")
    p.codebooks.write.mode("overwrite").parquet(s"$dir/codebooks")
    p.codes.write.mode("overwrite").parquet(s"$dir/codes")
  }

  /** Install a saved index for dataset `d` — searches (q37/q37b/q58b) then
    * run against the loaded artifacts with no training jobs at all. */
  def load(s: SparkSession, d: String, dir: String): Unit =
    // replace() evicts only (s, d) (freeing its storage) — a global
    // reset() would silently drop live trained indexes for every OTHER
    // dataset too
    replace(s, d,
      Coarse(
        Tables.localize(s.read.parquet(s"$dir/cent")),
        s.read.parquet(s"$dir/lists")),
      Pq(
        Tables.localize(s.read.parquet(s"$dir/codebooks")),
        s.read.parquet(s"$dir/codes")))
}
