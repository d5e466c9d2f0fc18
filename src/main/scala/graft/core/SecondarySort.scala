package graft.core

/** Per-key grouping of a key-sorted iterator, for [[KeyedFsm.replay]]. */
object SecondarySort {

  /**
   * Split a key-sorted iterator into consecutive same-key runs without
   * buffering. Each inner iterator is only valid until the outer
   * iterator advances; advancing the outer iterator first drains any
   * unconsumed remainder of the current run (so partially-consumed
   * runs are safe, if wasteful).
   */
  def runs[T, K](iter: Iterator[T])(key: T => K): Iterator[(K, Iterator[T])] =
    new Iterator[(K, Iterator[T])] {
      private val buf = iter.buffered
      private var cur: Iterator[T] = Iterator.empty
      private def drain(): Unit = while (cur.hasNext) cur.next()
      def hasNext: Boolean = { drain(); buf.hasNext }
      def next(): (K, Iterator[T]) = {
        drain()
        val k = key(buf.head)
        cur = new Iterator[T] {
          def hasNext: Boolean = buf.hasNext && key(buf.head) == k
          def next(): T = buf.next()
        }
        (k, cur)
      }
    }
}
