package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/**
 * Integer-exact crawl-budget apportionment: split a fixed per-round fetch
 * budget across hosts proportionally to a long weight (frontier size,
 * host quality, politeness headroom…) using the largest-remainder
 * (Hamilton) method — every host gets ⌊B·w/Σw⌋, and the B − Σ⌊…⌋
 * leftover fetches go to the hosts with the largest remainders
 * (ties broken on the host key). Σalloc == B EXACTLY by construction —
 * the property a round scheduler needs (a float-share rounding spelling
 * can over- or under-commit the round by ±|hosts|).
 *
 * This is the budget-allocation half of a frontier scheduler the
 * reference doesn't need (single host, politeness only —
 * `crawler.rs`'s per-crawl loop); at 10^10-URL scale the frontier
 * spans ~10^7-10^8 hosts and each round must decide how many fetches
 * each host receives before the politeness window shapes WHICH urls go.
 *
 * Scale shape: one scalar aggregate for Σw (broadcast back), row-local
 * exact decimal(38,0) arithmetic for ⌊B·w/Σw⌋ and the remainder (w·B
 * overflows a long at web scale: 10^12-token weights × 10^9 budgets),
 * and the remainder RANK rides [[Packing.withCumulativeWeight]]'s
 * two-phase distributed prefix scan over the (Σw−1−r, host) axis — no
 * single-partition window over the host frame, which at 10^8 hosts
 * would be exactly the WindowExec collapse the packing operators
 * design out. Weights ≤ 0 and null hosts are dropped (no budget);
 * Σw must fit a long (weights are longs; the sum of real per-host
 * weights at 100 TB is ~10^13-10^14).
 */
object CrawlBudget {

  /** (hostCol, weight, alloc) — one row per positive-weight host;
    * Σalloc == budget exactly (0 rows if no host has positive weight).
    * The result is materialized eagerly (a host-sized local checkpoint),
    * so the persisted intermediate is released before returning and
    * nothing is left in the session's cache. The checkpoint's blocks live
    * on the executors and are freed once the result is garbage-collected;
    * they are not fault-tolerant: a read after losing an executor that
    * held one fails instead of recomputing, so a caller that must survive
    * executor loss should write the result out. */
  def allocate(hostWeights: DataFrame, budget: Long,
               hostCol: String = "host", wCol: String = "weight"): DataFrame = {
    require(budget >= 0, "budget must be non-negative")
    val pos = hostWeights
      .filter(col(hostCol).isNotNull && col(wCol) > 0)
      .select(col(hostCol), col(wCol).cast("long").as("weight"))
    val total = pos.agg(sum("weight").cast("decimal(38,0)").as("tw"))
    // exact integer arithmetic in decimal(38,0): prod = w·B (≤ 38 digits),
    // fl = (prod − prod mod tw)/tw is an exact integer, r = prod mod tw
    // fits a long because r < tw = Σw (a long by contract)
    val based = pos.crossJoin(broadcast(total))
      .withColumn("__prod", col("weight").cast("decimal(38,0)") * lit(budget))
      .withColumn("__r", col("__prod") % col("tw"))
      .withColumn("__fl", ((col("__prod") - col("__r")) / col("tw")).cast("long"))
      // remainder rank key: ascending (Σw−1−r) ≡ descending r; host is
      // the window tie-break inside the prefix scan
      .withColumn("__key", (col("tw") - 1 - col("__r")).cast("long"))
      .withColumn("__one", lit(1L))
      .drop("tw", "__prod", "__r")
      // the host frame feeds FOUR plan branches (the prefix scan's
      // quantile + bucket-count passes, the leftover-count aggregate, and
      // the final projection) and Catalyst does not dedup common
      // subtrees — unpersisted, each branch would re-run the full
      // corpus-wide host aggregation. The cached frame is host-sized
      // (≪ corpus); an LRU eviction costs a recompute, never correctness.
      .persist()
    val ranked = Packing.withCumulativeWeight(based, "__key", "__one",
      cumName = "__rank", tieCols = Seq(hostCol))
    val extra = ranked.agg((lit(budget) - sum("__fl")).as("k"))
    val out = ranked.crossJoin(broadcast(extra))
      .select(col(hostCol), col("weight"),
        (col("__fl") + when(col("__rank") <= col("k"), 1L).otherwise(0L)).as("alloc"))
      .localCheckpoint(eager = true)
    based.unpersist()
    out
  }
}
