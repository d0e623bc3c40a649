package graft.streaming

import graft.functions.ContentHash

/** Hash-gated snapshot polling — the ingestion semantics of S1/S2
  * (/root/reference/internal/services/employees/employees.go:88-101,
  * tasks.go:141-153).
  *
  * The upstream returns (newHash, items); the gate skips the batch
  * when the hash matches the last known one or the batch is empty, and
  * commits the hash only after the batch lands (reference behavior:
  * hash advances even for empty responses, employees.go:97-101).
  *
  * This is deliberately a thin non-Spark component (the north star
  * allows a non-Spark orchestration layer): it hands each batch it lets
  * through to `onBatch` in the calling thread, which writes it to the
  * store: a caller wraps the items in a local frame for a `Pipelines`
  * batch body, which the sink writes on the driver. `lastHash` is
  * in-memory exactly like the reference's — restart ⇒ refetch,
  * absorbed by the idempotent MERGE sink (SURVEY.md §2.6 "Stateful ops").
  */
final case class FetchResult[+T](newHash: String, items: Seq[T])

trait SnapshotFetcher[T] {
  /** One upstream pull; `knownHash` lets the server short-circuit. */
  def fetch(knownHash: Option[String]): FetchResult[T]
}

final class HashGatedPoller[T](fetcher: SnapshotFetcher[T],
    onBatch: Seq[T] => Unit) {

  @volatile private var lastHash: Option[String] = None

  def knownHash: Option[String] = lastHash

  /** One poll cycle. Returns true iff a batch was processed. The hash
    * is committed only after `onBatch` succeeds — a failed batch is
    * retried with the old hash on the next tick (employees.go:135,
    * commit-after-save).
    */
  def poll(): Boolean = {
    val r = fetcher.fetch(lastHash)
    val process = ContentHash.shouldProcess(
      Some(r.newHash), lastHash, r.items.nonEmpty)
    if (process) {
      onBatch(r.items)
      lastHash = Some(r.newHash)
      true
    } else {
      lastHash = Some(r.newHash) // empty/unchanged still advances (ref behavior)
      false
    }
  }
}
