package org.apache.spark.sql.execution.graftshim;

import org.apache.spark.sql.catalyst.InternalRow;
import org.apache.spark.sql.execution.joins.HashedRelation;

/**
 * Broadcast payload wrapper for graft's custom interval-join broadcast
 * mode (the HashedRelationBroadcastMode precedent: the index is built
 * ONCE on the driver inside the BroadcastExchange, and executors
 * receive the ready structure).
 *
 * Why this class exists, and why it is Java: BroadcastExchangeExec
 * sizes whatever {@code mode.transform} returns by matching
 * {@code HashedRelation => estimatedSize} /
 * {@code Array[InternalRow] => sum of row sizes} and THROWS on any
 * other type (verified against the 4.1.2 bytecode) — so a custom
 * driver-built broadcast value must wear the HashedRelation interface.
 * That trait is {@code sealed} at the Scala level but its JVM surface
 * is a public interface whose non-abstract members are true default
 * methods, so a Java implementation is the minimal supported-surface
 * contact point (same shim spirit as {@code graftshim.Shim} for the
 * {@code private[sql]} Column/Expression bridge; this file implements
 * only the six abstract methods and {@code estimatedSize}).
 *
 * Only {@code estimatedSize} is ever invoked by the exchange; the
 * key-lookup surface is unreachable because only the graft interval-join
 * strategy consumes this mode's exchanges — those methods throw to
 * keep that contract loud. The payload is opaque here (a key-to-RangeIndex
 * HashMap built from UnsafeRow copies);
 * serialization is plain Java serialization (UnsafeRow is
 * Externalizable), and the generated comparator is deliberately NOT
 * part of the payload — each task regenerates it from the value type.
 */
public final class DriverBuiltRelation implements HashedRelation, java.io.Serializable {
  private static final long serialVersionUID = 1L;

  private final Object payload;
  private final long size;

  public DriverBuiltRelation(Object payload, long size) {
    this.payload = payload;
    this.size = size;
  }

  /** The driver-built index; callers cast to the type their mode built. */
  public Object payload() {
    return payload;
  }

  @Override
  public long estimatedSize() {
    return size;
  }

  @Override
  public scala.collection.Iterator<InternalRow> get(InternalRow key) {
    throw unsupported();
  }

  @Override
  public InternalRow getValue(InternalRow key) {
    throw unsupported();
  }

  @Override
  public boolean keyIsUnique() {
    return false;
  }

  @Override
  public scala.collection.Iterator<InternalRow> keys() {
    throw unsupported();
  }

  @Override
  public HashedRelation asReadOnlyCopy() {
    return this;
  }

  @Override
  public void close() {}

  private static UnsupportedOperationException unsupported() {
    return new UnsupportedOperationException(
        "DriverBuiltRelation is consumed only by the graft interval-join exec");
  }
}
