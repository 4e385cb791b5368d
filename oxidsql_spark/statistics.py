"""Statistics capabilities — the reference's 'crown jewels' (SURVEY §4)
mapped to Spark-native equivalents.

Reference machinery → Spark twin:
* online cardinality counter + Counting-HLL ndv sketches per column
  (access/heap.rs:245-292, statistics/counting_hyperloglog.rs)
  → ``analyze_table`` (ANALYZE TABLE … COMPUTE STATISTICS FOR COLUMNS —
  Catalyst's CBO consumes rowCount/ndv the way DPccp was meant to
  consume the reference's sketches) and ``ndv_sketch`` for the
  query-level HLL (approx_count_distinct — same sketch family);
* 1024-row reservoir sample per table, predicates executed against the
  sample for cardinality estimation (planner/bottomup.rs:111-168,
  SAMPLE_SIZE catalog/mod.rs:37)
  → ``TableSample``: a seeded ``df.sample`` materialized once (cheap at
  any scale — the sample is tiny and reusable), with
  ``estimate_selectivity`` reproducing the estimate = matching/total,
  floored at base/(2·SAMPLE_SIZE) and 1 (bottomup.rs:159-161);
* the same counters and sample kept fresh by every INSERT, UPDATE and
  DELETE without a rescan (heap.rs:245-311)
  → ``OnlineTableStats``: buffered INSERT rows fold through an Arrow
  ``LocalRelation`` with zero jobs, an UPDATE or DELETE folds one signed
  aggregation over its touched slice, and the sample answers
  ``estimate_cardinality`` as a ``LocalRelation`` — no Python stage on
  any path.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .versioned import local_frame

SAMPLE_SIZE = 1024  # the reference's SAMPLE_SIZE (catalog/mod.rs:37)
SAMPLE_SEED = 42


class TableSample:
    """Persisted-in-memory seeded sample of a table — the Spark twin of
    the reference's reservoir-sample shadow table (heap.rs:258-289).

    At 100 TB the sample is built with one pass (df.sample pushes the
    bernoulli filter into the scan) and cached; every subsequent
    estimate is driver-local arithmetic over ≤ ~SAMPLE_SIZE rows."""

    def __init__(self, df: DataFrame, sample_size: int = SAMPLE_SIZE, seed: int = SAMPLE_SEED):
        self.base_count = df.count()
        if self.base_count == 0:
            fraction = 0.0
        else:
            # oversample slightly then cap — df.sample is approximate
            fraction = min(1.0, (sample_size * 1.2) / self.base_count)
        self.sample = df.sample(fraction=fraction, seed=seed).limit(sample_size).cache()
        self.sample_count = self.sample.count()

    def close(self) -> None:
        """Release the cached sample blocks.  The sample is bounded
        (≤ ~SAMPLE_SIZE rows), but a session that profiles many tables
        should still return the storage — same lifecycle discipline as
        cachescope (a TableSample owns its cache, so it exposes its own
        release instead of the scope ledger)."""
        self.sample.unpersist(blocking=True)

    def __enter__(self) -> "TableSample":
        return self

    def __exit__(self, *exc) -> None:
        self.close()

    def estimate_selectivity(self, predicate: Column | str) -> float:
        """matching/total over the sample (bottomup.rs:121-161)."""
        if self.sample_count == 0:
            return 1.0
        pred = F.expr(predicate) if isinstance(predicate, str) else predicate
        matching = self.sample.filter(pred).count()
        return matching / self.sample_count

    def estimate_cardinality(self, predicate: Column | str) -> int:
        """estimate = sel × base, floored at base/(2·SAMPLE_SIZE) and 1 —
        exactly the reference's floor rule (bottomup.rs:159-161)."""
        est = self.estimate_selectivity(predicate) * self.base_count
        floor = self.base_count / (2 * SAMPLE_SIZE)
        return max(int(est), int(floor), 1)

    def conjunct_counts(self, predicates: list) -> tuple[int, list[int]]:
        """ONE pass over the sample accumulating the full-match count and
        per-conjunct partial-match counts — the same accumulation the
        reference's sample scan performs into ``partial_matching_counts``
        (bottomup.rs:133-156). A NULL predicate result counts as no match
        (sum skips NULLs), matching SQL WHERE semantics."""
        preds = [F.expr(p) if isinstance(p, str) else p for p in predicates]
        full = preds[0]
        for p in preds[1:]:
            full = full & p
        row = self.sample.agg(
            F.sum(full.cast("long")).alias("__full__"),
            *[F.sum(p.cast("long")).alias(f"__p{i}__") for i, p in enumerate(preds)],
        ).first()
        return (
            int(row["__full__"] or 0),
            [int(row[f"__p{i}__"] or 0) for i in range(len(preds))],
        )

    def estimate_conjunct_selectivity(
        self, predicates: list, zero_match_ndv: list[int | None] | None = None
    ) -> float:
        """The reference's full estimation ladder (statistics/mod.rs:24-31,
        the fallback its TODO at bottomup.rs:133 plans to build on the
        partial counts):

        1. any sample row matches the WHOLE conjunction → matching/total;
        2. none does → combine per-conjunct partial-match fractions with
           exponentially decaying weights (most-selective at full weight,
           then sqrt of the next, etc. — the Moerkotte-style backoff the
           essay cites), which always lands at or below the most
           selective single conjunct;
        3. a conjunct with ZERO partial matches contributes 1/ndv when
           its column ndv is known (equi-predicate rule), else the
           1/sample_count resolution bound."""
        if self.sample_count == 0:
            return 1.0
        full, partial = self.conjunct_counts(predicates)
        if full > 0:
            return full / self.sample_count
        sels = []
        for i, c in enumerate(partial):
            if c > 0:
                sels.append(c / self.sample_count)
            elif zero_match_ndv and i < len(zero_match_ndv) and zero_match_ndv[i]:
                sels.append(1.0 / zero_match_ndv[i])
            else:
                sels.append(1.0 / self.sample_count)
        sels.sort()
        sel = 1.0
        for i, s in enumerate(sels):
            sel *= s ** (0.5**i)
        return min(sel, 1.0)

    def estimate_conjunct_cardinality(
        self, predicates: list, zero_match_ndv: list[int | None] | None = None
    ) -> int:
        est = self.estimate_conjunct_selectivity(predicates, zero_match_ndv) * self.base_count
        floor = self.base_count / (2 * SAMPLE_SIZE)
        return max(int(est), int(floor), 1)


class CountingHLL:
    """Delete-capable distinct-count sketch — the twin of the reference's
    Counting-HyperLogLog (counting_hyperloglog.rs:3-17,76-180).

    A classic HLL register keeps max(rho) per bucket, which is
    irreversible; the counting variant keeps a COUNT of hashes per
    (bucket, rho), so delete = decrement and the register value is the
    largest rho with a nonzero counter. The reference squeezes counters
    into probabilistic u8s to fit 3,776 B/column (…:36-37); we keep
    exact int64 counters — the matrix is a few hundred KB driver-side
    (``OnlineTableStats.dumps`` stores it trimmed and narrowed), and the
    probabilistic counter is a memory trick, not a semantic one.

    The per-value hashing/counting runs IN SPARK (see
    ``column_bucket_rho_counts``): at most m×max_rho groups survive
    map-side combine, so folding any batch — or a 100 TB table — ships
    only ~thousands of count rows to the driver.
    """

    def __init__(self, m: int = 64):
        import numpy as np

        assert m >= 16 and (m & (m - 1)) == 0, "m must be a power of two"
        self.m = m
        self.bits = m.bit_length() - 1
        self.max_rho = 64 - self.bits + 1
        self._counts = np.zeros((m, self.max_rho + 1), dtype=np.int64)

    # reference ALPHA_M for m=64 (counting_hyperloglog.rs:36-37); the
    # standard HLL constant otherwise
    @property
    def _alpha(self) -> float:
        return 0.709 if self.m == 64 else 0.7213 / (1 + 1.079 / self.m)

    def add_counts(self, rows, sign: int = 1) -> None:
        """Fold (bucket, rho, count) rows in; a negative count or
        ``sign=-1`` deletes.
        Deleting values never inserted clamps at 0 (the reference's
        decrement assumes tracked inserts, counting_hyperloglog.rs:117)."""
        for bucket, rho, cnt in rows:
            self._counts[bucket, rho] += sign * cnt
        self._counts.clip(min=0, out=self._counts)

    def estimate(self) -> int:
        """Bias-corrected estimate over the derived registers, with the
        small-range linear-counting correction (the same ladder the
        reference applies, counting_hyperloglog.rs:146-162)."""
        import numpy as np

        nonzero = self._counts[:, 1:] > 0
        # register = largest rho with a live counter, 0 if none
        regs = np.where(
            nonzero.any(axis=1), self.max_rho - np.argmax(nonzero[:, ::-1], axis=1), 0
        )
        inv = float(np.sum(np.power(2.0, -regs.astype(np.float64))))
        est = self._alpha * self.m * self.m / inv
        zeros = int(np.sum(regs == 0))
        if est <= 2.5 * self.m and zeros:
            est = self.m * float(np.log(self.m / zeros))
        return int(round(est))


_U64 = (1 << 64) - 1


def _bucket_rho(h: int, m: int) -> tuple[int, int]:
    """The driver-side twin of the (bucket, rho) split ``_signed_counts``
    computes in Spark, for one signed 64-bit ``xxhash64`` value: bucket
    = the low log2(m) bits, rho = the leading-zero rank of the rest
    (65 - bits - bit_length of the unsigned shifted hash)."""
    bits = m.bit_length() - 1
    return h & (m - 1), 65 - bits - ((h & _U64) >> bits).bit_length()


def _value_hash(c: str) -> Column:
    """The hash every CountingHLL counter is keyed on:
    ``xxhash64(cast(c AS string))``, NULL where the value is NULL
    (``xxhash64`` alone would hash a NULL to its seed)."""
    return F.when(F.col(c).isNotNull(), F.xxhash64(F.col(c).cast("string")))


def _signed_counts(
    df: DataFrame, stacked: list[tuple[str, Column, int]], m: int
) -> dict[str, list[tuple[int, int, int]]]:
    """ONE aggregation over ``df``: every ``(name, value, sign)`` entry
    stacks a row per input row, NULL values are skipped, and the rows
    are summed by sign per (name, bucket, rho).  At most
    len(stacked)×m×max_rho groups survive map-side combine."""
    from itertools import chain

    bits = m.bit_length() - 1
    rows = df.select(
        F.stack(
            F.lit(len(stacked)),
            *chain(*[(F.lit(c), v.cast("string"), F.lit(sign)) for c, v, sign in stacked]),
        ).alias("c", "v", "s")
    ).filter(F.col("v").isNotNull())
    h = F.xxhash64("v")
    w = F.shiftrightunsigned(h, bits)
    rho = F.when(w == 0, F.lit(65 - bits)).otherwise(F.lit(65 - bits) - F.length(F.bin(w)))
    counted = (
        rows.groupBy("c", h.bitwiseAND(F.lit(m - 1)).alias("bucket"), rho.alias("rho"))
        .agg(F.sum("s").alias("n"))
        .collect()
    )
    out: dict[str, list[tuple[int, int, int]]] = {c: [] for c, _, _ in stacked}
    for r in counted:
        out[r["c"]].append((int(r["bucket"]), int(r["rho"]), int(r["n"])))
    return out


def column_bucket_rho_counts(
    batch: DataFrame, cols: list[str], m: int = 64
) -> dict[str, list[tuple[int, int, int]]]:
    """One exact mini-aggregation producing CountingHLL input for every
    column at once: stack the columns, hash, split into (bucket, rho),
    count. NULLs are skipped per column (distinct-count semantics).
    The synthetic ``__rows__`` column counts batch rows in the same job."""
    stacked = [(c, F.col(c), 1) for c in cols] + [("__rows__", F.lit("x"), 1)]
    return _signed_counts(batch, stacked, m)


class OnlineTableStats:
    """Online statistics maintenance — the twin of the reference's
    per-insert stats path (access/heap.rs:245-292): every ingested batch
    advances a cardinality counter, per-column ndv sketches, and a
    uniform sample, WITHOUT rescanning the table. Like the reference's
    (statistics accumulate in memory, flushed only at checkpoints —
    statistics/mod.rs:13-16), this state lives with the session; rebuild
    from the table to recover.

    Spark-native mapping:

    * cardinality counter → a running count fed by each batch;
    * CountingHLL per column (counting_hyperloglog.rs:76-180) →
      ``CountingHLL`` above, the driver keeps the counter matrix. Inserts
      ADD counts, deletes SUBTRACT them — the reference sketch's defining
      delete capability — so no path rescans the table. m=1024 buckets
      (same structure as the reference's m=64; we are not byte-budgeted,
      and 1024 buckets puts the rsd at ~3%, exact-ish in the
      linear-counting range);
    * 1024-row reservoir (heap.rs:258-289) → bottom-k sample: rows carry
      a hash priority, the k smallest survive; merging a batch is
      union-and-keep-k-smallest. Statistically a uniform sample like a
      reservoir, but mergeable across batches and executors — the form
      that still works when ingest itself is distributed.

    What each statement costs:

    * INSERT … VALUES (``add_rows``) → buffered; the next stats read
      folds the buffer through an Arrow ``LocalRelation``: Spark computes
      every value hash and priority in a projection the optimizer folds
      into the plan, the driver splits the hashes into (bucket, rho) —
      zero jobs;
    * INSERT … SELECT (``update``) → one counting aggregation over the
      batch, one bounded top-k for the sample;
    * UPDATE / DELETE (``fold_dml``) → ONE signed aggregation over the
      touched slice (pre-image −1, UPDATE's post-image +1); the
      statement's own predicate and SET expressions run over the
      ≤1024 sample rows as a ``LocalRelation`` — zero jobs for plain
      predicates;
    * DELETE without WHERE / TRUNCATE (``reset``) → driver only."""

    NDV_M = 1024  # CountingHLL buckets (reference uses 64; see above)

    def __init__(self, spark: SparkSession, schema, sample_size: int = SAMPLE_SIZE):
        self.spark = spark
        self.schema = schema
        self.sample_size = sample_size
        self.rowcount = 0
        self._sketches: dict[str, CountingHLL] = {}
        self._sample: list[tuple[int, tuple]] = []  # (priority, row values)
        self._seq = 0  # rows ever ingested; salts duplicate-row priorities
        self._pending: list[tuple] = []  # driver-known rows not yet folded

    def add_rows(self, rows: list[tuple]) -> None:
        """Driver-known tiny batches (INSERT … VALUES): buffer and fold
        lazily. The reference's per-insert maintenance is an in-memory
        nanosecond update (heap.rs:245-292); the Spark-faithful cost
        model is therefore ZERO jobs on the insert path and zero at the
        next stats read (``_flush``)."""
        self._pending.extend(rows)
        self.rowcount += len(rows)

    def _priority(self) -> Column:
        """Bottom-k sample priority of a row: a hash of its values salted
        by its ingest position."""
        return F.xxhash64(
            *[F.col(c).cast("string") for c in self.schema.names],
            F.lit(self._seq) + F.monotonically_increasing_id(),
        )

    def _add_counts(self, counts: dict[str, list[tuple[int, int, int]]]) -> None:
        for c in self.schema.names:
            self._sketches.setdefault(c, CountingHLL(self.NDV_M)).add_counts(counts.get(c, []))

    def _merge_sample(self, rows: list[tuple[int, tuple]]) -> None:
        self._sample = sorted(self._sample + rows, key=lambda t: t[0])[: self.sample_size]

    def _flush(self) -> None:
        """Fold the buffered rows in with NO Spark job: one projection
        over their ``LocalRelation`` (values, per-column value hashes,
        priority) that the optimizer evaluates while planning, then
        driver-local counter arithmetic.  Spark computes every hash, so
        the counters equal ``column_bucket_rho_counts``'s."""
        if not self._pending:
            return
        rows, self._pending = self._pending, []
        cols = self.schema.names
        n = len(cols)
        got = (
            local_frame(self.spark, rows, self.schema)
            .select(
                *cols,
                *[_value_hash(c).alias(f"__h{i}__") for i, c in enumerate(cols)],
                self._priority().alias("__prio__"),
            )
            .collect()
        )
        self._add_counts(
            {
                c: [(*_bucket_rho(r[n + i], self.NDV_M), 1) for r in got if r[n + i] is not None]
                for i, c in enumerate(cols)
            }
        )
        self._merge_sample([(r[-1], tuple(r[:n])) for r in got])
        self._seq += len(rows)

    def update(self, batch: DataFrame) -> None:
        """Fold one inserted batch in: one exact counting job over the
        batch (rowcount + per-column (bucket, rho) counts in a single
        aggregation), one bounded top-k job for the sample."""
        cols = self.schema.names
        counts = column_bucket_rho_counts(batch, cols, m=self.NDV_M)
        self._add_counts(counts)
        n = sum(cnt for _, _, cnt in counts["__rows__"])
        if n == 0:
            return
        prio = self._priority()
        cand = batch.withColumn("__prio__", prio).orderBy("__prio__").limit(self.sample_size)
        self._merge_sample([(r["__prio__"], tuple(r[c] for c in cols)) for r in cand.collect()])
        self._seq += n
        self.rowcount += n

    def fold_dml(
        self, table: DataFrame, alias: str, cond: str, post: dict[str, Column] | None = None
    ) -> None:
        """Fold a DELETE (``post`` None) or an UPDATE (``post`` = each SET
        column's post-image expression, cast to the column type) whose
        predicate is ``cond``, before ``table`` (the table's current
        content, addressable as ``alias``) is rewritten.

        Counters: ONE signed aggregation over the touched slice
        ``table.filter(coalesce(cond, false))``. DELETE subtracts every
        column and ``__rows__`` (the heap.rs:296-311 decrement path); UPDATE
        subtracts only the SET columns' pre-image and adds their
        post-image.  A value deleted while duplicates remain keeps its
        register alive (its counter stays positive) — exactly the
        property max-register HLLs cannot provide.

        Sample: the same predicate and SET expressions run over the
        sample rows as a ``LocalRelation`` aliased like the table (so
        correlated and IN/EXISTS subquery predicates resolve); DELETE
        drops the hit rows, UPDATE rewrites them in place and keeps their
        priority.  NULL-bearing rows match like any other — no equality
        join is involved."""
        self._flush()
        cols = self.schema.names
        hit = F.expr(f"coalesce(({cond}), false)")
        if post is None:
            stacked = [(c, F.col(c), -1) for c in cols] + [("__rows__", F.lit("x"), -1)]
        else:
            stacked = [(c, F.col(c), -1) for c in post] + [(c, v, 1) for c, v in post.items()]
        counts = _signed_counts(table.filter(hit), stacked, self.NDV_M)
        hits = []
        if self._sample:
            schema = T.StructType(self.schema.fields + [T.StructField("__i__", T.LongType())])
            indexed = [(*t, i) for i, (_, t) in enumerate(self._sample)]
            rel = local_frame(self.spark, indexed, schema)
            out = [F.col("__i__")]
            if post is not None:
                out += [post.get(c, F.col(c)).alias(c) for c in cols]
            hits = rel.alias(alias).filter(hit).select(*out).collect()
        self._add_counts(counts)
        if post is None:
            self.rowcount = max(0, self.rowcount + sum(n for _, _, n in counts["__rows__"]))
            gone = {r[0] for r in hits}
            self._sample = [t for i, t in enumerate(self._sample) if i not in gone]
        else:
            for r in hits:
                self._sample[r[0]] = (self._sample[r[0]][0], tuple(r[1:]))

    def reset(self) -> None:
        """Empty statistics (DELETE without WHERE, TRUNCATE): driver only,
        no fold of the whole table."""
        self.rowcount = 0
        self._sketches = {}
        self._sample = []
        self._pending = []

    def dumps(self) -> bytes:
        """Serialize the full stats state (counter matrices, sample,
        pending rows) — the twin of the reference persisting its sketch
        blobs into catalog VarBinary columns (catalog/mod.rs:574-577).
        Each counter matrix is stored without its all-zero trailing rho
        columns (a bucket's largest rho is about log2 of its value count)
        and in the smallest unsigned integer type that holds its largest
        count, so a table's blob stays a few hundred KB at most."""
        import pickle

        import numpy as np

        sketches = {}
        for c, sk in self._sketches.items():
            used = np.flatnonzero(sk._counts.any(axis=0))
            width = int(used[-1]) + 1 if used.size else 0
            counts = sk._counts[:, :width]
            dtype = np.min_scalar_type(int(counts.max(initial=0)))
            sketches[c] = (sk.m, width, dtype.str, counts.astype(dtype).tobytes())
        return pickle.dumps(
            {
                "rowcount": self.rowcount,
                "seq": self._seq,
                "sample_size": self.sample_size,
                "sketches": sketches,
                "sample": self._sample,
                "pending": self._pending,
            }
        )

    @classmethod
    def loads(cls, spark: SparkSession, schema, data: bytes) -> "OnlineTableStats":
        """Restore from ``dumps`` output — reopening a durable database
        recovers fresh statistics with NO table rescan.  Also reads the
        older blobs that stored each full int64 matrix as ``(m, raw)``."""
        import pickle

        import numpy as np

        st = pickle.loads(data)
        self = cls(spark, schema, sample_size=st["sample_size"])
        self.rowcount = st["rowcount"]
        self._seq = st["seq"]
        self._sample = [tuple(x) if not isinstance(x, tuple) else x for x in st["sample"]]
        self._pending = st["pending"]
        for c, packed in st["sketches"].items():
            sk = CountingHLL(packed[0])
            if len(packed) == 2:
                m, width, dtype, raw = packed[0], sk.max_rho + 1, np.int64, packed[1]
            else:
                m, width, dtype, raw = packed
            sk._counts[:, :width] = np.frombuffer(raw, dtype=dtype).reshape((m, width))
            self._sketches[c] = sk
        return self

    def rebuild(self, df: DataFrame) -> None:
        """Full re-derivation from the table (recovery / MERGE path)."""
        self.reset()
        self.update(df)

    def ndv(self, col: str) -> int:
        """Distinct-count estimate from the counting sketch — driver-local
        arithmetic, zero Spark jobs."""
        self._flush()
        sk = self._sketches.get(col)
        return sk.estimate() if sk is not None else 0

    def sample_df(self) -> DataFrame:
        """The sample rows as a ``LocalRelation``."""
        self._flush()
        return local_frame(self.spark, [t for _, t in self._sample], self.schema)

    def estimate_cardinality(self, predicate: Column | str) -> int:
        """Reference estimate + floor rule (bottomup.rs:121-161) over the
        maintained sample — fresh after every INSERT, no ANALYZE step.
        The predicate filters the sample's ``LocalRelation`` and the
        matches are collected, not counted (an aggregate is not folded
        into the plan): zero jobs for a predicate without subqueries."""
        self._flush()
        total = len(self._sample)
        if total == 0:
            return max(self.rowcount, 1)
        pred = F.expr(predicate) if isinstance(predicate, str) else predicate
        matching = len(self.sample_df().filter(pred).select(F.lit(1)).collect())
        est = matching / total * self.rowcount
        floor = self.rowcount / (2 * self.sample_size)
        return max(int(est), int(floor), 1)


def ndv_sketch(df: DataFrame, *cols: str, rsd: float = 0.05) -> dict[str, int]:
    """Per-column approximate distinct counts via HyperLogLog++ — the
    query-level twin of the reference's CountingHLL (its test bound is
    ±20% at 200k distinct; HLL++ at rsd=0.05 is tighter)."""
    row = df.agg(
        *[F.approx_count_distinct(c, rsd).alias(c) for c in cols]
    ).collect()[0]
    return {c: row[c] for c in cols}


def exact_ndv(df: DataFrame, *cols: str) -> dict[str, int]:
    row = df.agg(*[F.countDistinct(c).alias(c) for c in cols]).collect()[0]
    return {c: row[c] for c in cols}


def analyze_table(spark: SparkSession, name: str, columns: list[str] | None = None) -> None:
    """ANALYZE TABLE — refresh the catalog statistics CBO join-reorder
    consumes; the batch twin of the reference's online stats maintenance
    (re-run after each ingest batch, SURVEY §7 risk register)."""
    cols = f" FOR COLUMNS {', '.join(columns)}" if columns else ""
    spark.sql(f"ANALYZE TABLE {name} COMPUTE STATISTICS{cols}")


# ---------------------------------------------------------------------------
# Count-min sketch: bounded-shuffle frequency estimation
# ---------------------------------------------------------------------------

_CMS_D = 3  # hash rows
_CMS_W = 8192  # buckets per row


def _cms_bucket(col: Column, i: int, w: int) -> Column:
    """Portable bucket hash: first 4 hex chars of md5(value || '#i')
    mod w — byte-identical in DuckDB via the positional hex parse
    (operators.corpus_ext._duck_hex4), the established cross-engine
    hashing pattern (xxhash64 is not DuckDB-expressible)."""
    h = F.md5(F.concat(col.cast("string"), F.lit(f"#{i}")))
    return F.conv(F.substring(h, 1, 4), 16, 10).cast("int") % w


def count_min_sketch(
    df: DataFrame, col: str, w: int = _CMS_W, d: int = _CMS_D
) -> DataFrame:
    """Count-min sketch over a column as a (i, b, cnt) relation — the
    FREQUENCY member of the reference's counting-sketch family (its
    CountingHLL counts distincts, statistics/counting_hyperloglog.rs;
    this bounds per-item counts), built the distributed way: each value
    explodes into d (row, bucket) coordinates, and the aggregation's
    map-side partial combine means the shuffle carries at most d·w rows
    REGARDLESS of input size — the property that makes per-source /
    per-day frequency profiles affordable at 100 TB.  Sketches merge by
    summing cnt on (i, b), so per-shard sketches roll up without
    touching raw data."""
    pos = df.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("i"), _cms_bucket(F.col(col), i, w).alias("b")
                    )
                    for i in range(d)
                ]
            )
        ).alias("p")
    ).select("p.i", "p.b")
    return pos.groupBy("i", "b").agg(F.count(F.lit(1)).alias("cnt"))


def cms_estimate(
    sketch: DataFrame, items: DataFrame, col: str, w: int = _CMS_W, d: int = _CMS_D
) -> DataFrame:
    """(col, cms_est) for every row of `items`: the count-min upper
    bound — min over the d probed buckets.  Guarantees est >= true
    count (never an undercount; overcount only from bucket collisions,
    expected ~ n_rows/w per hash row).  Pure join algebra: d probe rows
    per item LEFT-joined to the sketch on (i, b) — an absent sketch row
    means that bucket counted nothing, so it contributes 0 to the min
    and an item the sketch never saw reports cms_est = 0 instead of
    silently vanishing from the output."""
    probes = items.select(
        col,
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("i"), _cms_bucket(F.col(col), i, w).alias("b")
                    )
                    for i in range(d)
                ]
            )
        ).alias("p"),
    ).select(col, "p.i", "p.b")
    return (
        probes.join(sketch, ["i", "b"], "left")
        .groupBy(col)
        .agg(F.min(F.coalesce(F.col("cnt"), F.lit(0))).alias("cms_est"))
    )
