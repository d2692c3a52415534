"""Small driver-side row sets as Arrow-backed local relations.

``spark.createDataFrame(list_of_tuples, schema)`` compiles to a
``parallelize`` Python RDD with ``defaultParallelism`` slices: every
materialization of any plan containing it round-trips through that many
Python worker tasks (measured ~0.4-5s per evaluation on local[32] for a
ONE-row frame). Routing the same rows through a pandas frame takes the
Arrow conversion path instead, which lands in the JVM as a plain local
relation — zero Python work at execution time (guide §4: keep tiny
driver-side rows off the Python boundary).

Falls back to the row path when Arrow conversion is unavailable (e.g.
a session without pyarrow); results are identical either way.
"""

from __future__ import annotations

import itertools
import threading
from contextlib import contextmanager
from typing import Iterable, Iterator, Sequence

from pyspark.sql import DataFrame, SparkSession

#: serializes scaled-shuffle sections across driver threads: the
#: session conf is GLOBAL, so two overlapped builds interleaving
#: set/restore would leak a loop-scaled partition count to the rest of
#: the session (combined registry rows build independent sub-frames on
#: concurrent driver threads; streaming rows size their state stores
#: through the same helper)
_SCALED_SHUFFLE_LOCK = threading.RLock()


@contextmanager
def scaled_shuffle(spark: SparkSession, n_keys: int, per_partition: int = 1) -> Iterator[int]:
    """Temporarily size ``spark.sql.shuffle.partitions`` from the DATA
    (guide §2: scale-adaptive partitioning, not a constant tuned for
    either local mode or the cluster): ``ceil(n_keys / per_partition)``
    clamped to ``[2, current session width]``. The session width stays
    the upper bound, so on a real cluster the same derivation widens
    with the configured parallelism while tiny local scenarios stop
    paying for dozens of near-empty shuffle/state partitions (each
    streaming state partition costs a state-store commit + a Python
    round trip per micro-batch; each iterative-loop round is 2+
    shuffles whose near-empty tasks cost more in launches than they
    win).

    This is the ONE locked implementation every conf-scoped section
    goes through (entry ``_scaled_shuffle`` and dedup
    ``_edge_scaled_shuffle`` are thin wrappers), so scaled sections are
    overlap-safe by construction: the lock serializes set/restore
    against sibling driver threads."""
    with _SCALED_SHUFFLE_LOCK:
        old = spark.conf.get("spark.sql.shuffle.partitions")
        parts = scaled_width(int(old), n_keys, per_partition)
        spark.conf.set("spark.sql.shuffle.partitions", str(parts))
        try:
            yield parts
        finally:
            spark.conf.set("spark.sql.shuffle.partitions", old)


def scaled_width(current: int, n_keys: int, per_partition: int = 1) -> int:
    """``ceil(n_keys / per_partition)`` clamped to ``[2, current]`` —
    the one shuffle-width derivation behind both the conf-scoped
    context manager above and the isolated-session variant below."""
    per = max(int(per_partition), 1)
    return max(2, min(int(current), (int(n_keys) + per - 1) // per))


def isolated_scaled_session(spark: SparkSession, n_keys: int, per_partition: int = 1) -> SparkSession:
    """A session CLONE (shared SparkContext, PRIVATE SQLConf) whose
    shuffle width is scaled from the data — the lock-free alternative
    to :func:`scaled_shuffle` for LOOP sections. A loop that mutates
    the session-global conf must hold the lock for its whole duration,
    which serializes sibling overlapped builds (combined rows run
    independent variants on concurrent driver threads); a private-conf
    clone needs no lock at all, so independent loops genuinely overlap
    (guide §2.6) while each still gets data-scaled shuffles (§2). The
    width derivation and clamp source (the PARENT's current conf) match
    :func:`scaled_shuffle` exactly, so plans are unchanged — only the
    scoping of the conf is. The parent width is read under the lock: a
    sibling thread's scaled section lowers the global conf while it
    runs, and that transient width must not become this clone's clamp."""
    sess = spark.newSession()
    with _SCALED_SHUFFLE_LOCK:
        cur = int(spark.conf.get("spark.sql.shuffle.partitions"))
    sess.conf.set("spark.sql.shuffle.partitions", str(scaled_width(cur, n_keys, per_partition)))
    return sess


_REBIND_SEQ = itertools.count()


def rebind(df: DataFrame, session: SparkSession) -> DataFrame:
    """Re-root a DataFrame in another session of the same SparkContext
    via a transient global temp view (the public cross-session
    handoff). Analysis inlines the view's plan into the new frame
    eagerly, so the view is dropped before returning. Hand over
    checkpointed/cheap plans — the PLAN, not its result, crosses
    sessions (a non-checkpointed plan would recompute in the target)."""
    if df.sparkSession is session:
        return df
    name = f"_rebind_{next(_REBIND_SEQ)}"
    df.createOrReplaceGlobalTempView(name)
    try:
        return session.table(f"global_temp.{name}")
    finally:
        df.sparkSession.catalog.dropGlobalTempView(name)


def local_rows_df(spark: SparkSession, rows: Sequence[Iterable], schema) -> DataFrame:
    """Build a DataFrame from a small driver-side list of row tuples.

    ``schema`` is a DDL string or StructType; columns map positionally,
    exactly like ``createDataFrame(rows, schema)``."""
    if not rows:
        return spark.createDataFrame([], schema)
    try:
        import pandas as pd

        pdf = pd.DataFrame([list(r) for r in rows], dtype=object)
        return spark.createDataFrame(pdf, schema)
    except Exception:
        return spark.createDataFrame([tuple(r) for r in rows], schema)
