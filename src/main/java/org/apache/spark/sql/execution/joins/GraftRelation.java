package org.apache.spark.sql.execution.joins;

import org.apache.spark.sql.catalyst.InternalRow;
import scala.collection.Iterator;

/**
 * Public base for the graft join's build maps. {@code BroadcastExchangeExec}
 * accepts only a {@link HashedRelation} (or an array of rows) as a broadcast
 * mode's value, and that trait is sealed and package-private in Scala, so a
 * map that is itself the broadcast value extends this Java class. The graft
 * join reads its maps only through their own lookups; Spark's row-iterator
 * API is not served. A map's lookups change no state, so every reader may
 * share it.
 */
public abstract class GraftRelation implements HashedRelation {
  @Override
  public Iterator<InternalRow> get(InternalRow key) {
    throw unsupported();
  }

  @Override
  public InternalRow getValue(InternalRow key) {
    throw unsupported();
  }

  @Override
  public Iterator<InternalRow> keys() {
    throw unsupported();
  }

  @Override
  public HashedRelation asReadOnlyCopy() {
    return this;
  }

  @Override
  public void close() {
  }

  private UnsupportedOperationException unsupported() {
    return new UnsupportedOperationException(
      getClass().getSimpleName() + " is read through its own lookups");
  }
}
