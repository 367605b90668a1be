package graft.ops

import scala.collection.immutable.SortedMap

import graft.json.{JsonParser, JsonRender}
import graft.types._

/** The reference's example-data accumulation protocol and its early-stop
  * collection loop (example_data.clj), ported as the LOCAL (driver-side)
  * counterpart of [[RepresentativeSample]]'s distributed formulation.
  *
  * The reference streams rows single-threaded and stops as soon as every
  * (property, type) pair of the target schema has been exhibited — that
  * economy is the point of the protocol, so this port keeps the iterator
  * shape instead of forcing a Dataset. Differences from the literal
  * Clojure, both deliberate:
  *  - coverage keys are type KINDS, not full type values — the reference
  *    keys its seen-board by whole type maps (metadata included), so an
  *    int[3,3] row never matches an int[0,9] target and the loop cannot
  *    terminate on metadata-carrying scalars; [[RepresentativeSample]]
  *    made the same call (kind-based coverage) and the two ports agree;
  *  - `processRows` returns the row count instead of println-ing it
  *    ("Processed N rows.", example_data.clj:87) — callers print. The
  *    returned count preserves the reference's start-at-1 quirk: it is
  *    rows consumed + 1 (an empty input reports 1).
  */
object ExampleData {

  /** example_data.clj:8-12. `append` returns the element, as the
    * reference's `append!` does.
    */
  trait Accumulator[V] {
    def append(element: String): String
    def values: V
  }

  /** The pass-through accumulator (example_data.clj:94-97 make-print-acc):
    * appending emits the row to `out` and keeps nothing; `values` is None.
    */
  final class PrintAccumulator(out: String => Unit = Console.out.println(_))
      extends Accumulator[Option[Nothing]] {
    def append(element: String): String = { out(element); element }
    def values: Option[Nothing] = None
  }

  /** Binned example values (example_data.clj:100-115
    * make-binned-example-acc): each appended row's top-level properties
    * merge into a map property -> set of rendered values (safe-conj);
    * `values` returns it sorted. Unparseable rows contribute nothing,
    * mirroring parse-json-string's behavior inside the reference's swap!.
    */
  final class BinnedExampleAccumulator extends Accumulator[SortedMap[String, Set[String]]] {
    private var bins = SortedMap.empty[String, Set[String]]
    def append(element: String): String = {
      JsonParser.parseJsonLine(element).toOption.foreach { obj =>
        obj.fields.foreach { case (k, v) =>
          val rendered = JsonRender.compact(v)
          bins = bins.updated(k, bins.getOrElse(k, Set.empty) + rendered)
        }
      }
      element
    }
    def values: SortedMap[String, Set[String]] = bins
  }

  /** The early-stop loop (example_data.clj:80-92 process-rows): walk rows,
    * append to `acc` every row exhibiting at least one pair not yet on the
    * seen-board — including pairs OUTSIDE the target schema, which the
    * reference's accept? also treats as unseen (accept?,
    * example_data.clj:39-47) — mark ALL the row's pairs seen, and stop as
    * soon as every TARGET pair is covered. Returns (accumulator, count)
    * where count carries the reference's start-at-1 quirk.
    *
    * Rows that fail to parse or don't extract to a document are skipped
    * without counting as accepted (parse-json-string would throw in the
    * reference CLI path; the engine's violation channel is Either-based).
    */
  def processRows[V](schema: DocT, rows: Iterator[String],
                     acc: Accumulator[V],
                     dateFormats: Seq[String] = Nil): (Accumulator[V], Long) = {
    val extractor = new TypeExtractor(StrictMerge, dateFormats)
    val targets = RepresentativeSample.coverageTargets(schema)
    // the seen-board: accept? treats a pair NOT on the board as unseen
    // (get-in -> nil, example_data.clj:39-46), so a row whose only novel
    // pairs lie OUTSIDE the target schema is still accepted and its pairs
    // are added to the board — the loop terminates on target coverage only
    var seen = Set.empty[(String, String)]
    var count = 1L
    while (!targets.subsetOf(seen) && rows.hasNext) {
      val row = rows.next()
      count += 1
      extractor.extractLine(row).toOption.foreach {
        case d: DocT =>
          val exhibited = RepresentativeSample.exhibitedPairs(d)
          if (exhibited.exists(p => !seen.contains(p))) { // accept?
            acc.append(row)
            seen = seen ++ exhibited // mark-props-seen
          }
        case _ => ()
      }
    }
    (acc, count)
  }
}
