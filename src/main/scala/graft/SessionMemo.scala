package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import scala.collection.concurrent.TrieMap

/** Session-scoped artifact memo shared by the star, dim, pair-set and
  * index caches: one build per (session, dir, key).
  *
  * The in-session analog of materializing a table to the warehouse (the
  * cross-run form is a real write — `StarBuilder.writeAll` for the star,
  * a pair table for dedup). [[apply]] memoizes a frame, and its
  * `materialize` argument is the policy knob: `persist` for re-read-many
  * lazy frames, eager `localCheckpoint` for frames whose construction
  * runs jobs (surrogate ids, verified pairs), identity for frames already
  * materialized by their builder. [[value]] memoizes bounded driver data
  * (a fitted model, a merge sequence), and [[once]] an effect (a scratch
  * warehouse's base commit, an index write). All three share one key
  * space.
  *
  * CHARGING CONTRACT: every memo build is build-phase time. Each memo
  * runs its build inside [[BuildPhase.timed]] and records its wall
  * seconds in [[buildLog]]; a cache hit charges nothing. A memo
  * built inside another memo's build is charged to the build phase once
  * (the outer span), and each gets its own inclusive [[buildLog]] entry.
  * Callers never wrap a memo in [[BuildPhase.timed]] themselves.
  *
  * Entries live for the session (never evicted — keys are bounded:
  * artifacts × sf dirs), and a dir whose CONTENTS change mid-session
  * would serve stale data (the driver's dirs are immutable snapshots).
  * Keys are namespaced by caller ("star:", "dim:", "pairs:", "docs:",
  * "events:", "bpe:", "mix:", "knn:", "pq:" — grep SessionMemo for the
  * live list before adding one) so modules cannot collide.
  *
  * WHAT MAY BE MEMOIZED:
  *
  *  1. Memos are INPUT ARTIFACTS, ideally shared by several gated
  *     queries: bounded marginals (cells over a type/value/calendar
  *     domain), serving indexes, pair sets — never a single query's own
  *     result body. Caching a query's result is result-caching across
  *     reps, which the bench contract forbids as gaming (q33's SimHash
  *     fold and q329's dense fold were declined for exactly this).
  *  2. Corpus-SCALED frames stay out regardless of sharing (the q212
  *     rule: user×day retention marginals ≈ event count at the driver
  *     SFs; pinning them trades executor storage for the blocks the
  *     rule exists to keep out). Only domain-bounded artifacts qualify.
  *  3. PRIMARY-BUILDS-FRESH: when a memo contains essentially a gated
  *     query's whole computation (cc:q32 labels ≡ q61's result,
  *     events:coocGrid ≡ q296 minus a top-20), the PRIMARY query's
  *     bench path must build that artifact fresh every rep so its
  *     median measures the build; only the derived consumers read the
  *     memo (q61 → q81/q86; q296 → q306).
  *  4. MODEL-ARTIFACT EXCEPTION: the trained-model tables
  *     `text:dsirUniModel` (q143), `text:dsirBigramModel` (q146) and
  *     `text:nbLangidFit` (q148) are single-consumer memos of the FIT
  *     half of train-then-score queries. They stay memoized because
  *     (a) the fitted table is a feature-space-bounded input artifact of
  *     the scoring pass, the production train-once/score-many boundary,
  *     (b) the scoring pass — the query's serving contract — runs per
  *     rep, and (c) the fit cost is build-phase time like every memo
  *     build, so it is visible in rep 1's build column and in the
  *     bench's memo_build_total. No FURTHER single-consumer memo may
  *     land without extending this list and its justification; anything
  *     beyond a fit/score split falls back to rule 1. */
private[graft] object SessionMemo {
  type Key = (SparkSession, String, String)

  private val cache = TrieMap.empty[Key, Any]

  /** Build seconds per (session, dir, key), cumulative for the JVM;
    * the bench reports it per key at session end. Inclusive: a nested
    * build's seconds appear in its own entry and in its parent's.
    * TrieMap: builders may run on any thread. */
  val buildLog = TrieMap.empty[Key, Double]

  /** The value memoized under (session, dir, key): built on first use,
    * as build-phase time, and served from the cache after. */
  def value[T](spark: SparkSession, dir: String, key: String)(build: => T): T = {
    val k = (spark, dir, key)
    cache.getOrElseUpdate(k, {
      val t0 = System.nanoTime()
      val v = BuildPhase.timed(build)
      buildLog(k) = (System.nanoTime() - t0) / 1e9
      v
    }).asInstanceOf[T]
  }

  /** The frame memoized under (session, dir, key), materialized once. */
  def apply(spark: SparkSession, dir: String, key: String)
           (build: => DataFrame)
           (materialize: DataFrame => DataFrame): DataFrame =
    value(spark, dir, key)(materialize(build))

  /** Run `body` the first time this (session, dir, key) is seen and skip
    * it after — for idempotent artifact builds (a scratch warehouse's
    * base commit) whose re-run per bench rep costs real write I/O
    * without changing any result. */
  def once(spark: SparkSession, dir: String, key: String)(body: => Unit): Unit =
    value(spark, dir, key)(body)
}
