"""Seeded op sequences for the three workloads, and their references.

An op is a dict: phase (setup | warm | timed | final), id, type, kind
(sql | read | query | stream), table (the lake table it touches, or -),
text (Spark SQL, a query name, or "src,tgt" for a stream epoch) and
`ref`, the DuckDB statements that apply the same change to the
reference copy (writes) or compute the expected rows (reads).

Lake tables live in the `graft` catalog as graft.bench.<name>; the
reference names them <name>. Every key a run inserts is fresh, so a
MERGE upsert is a delete of the batch's keys plus an insert of the batch
in the reference.
"""
import os
import random

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

COLS = "o_orderkey BIGINT, o_custkey BIGINT, o_orderstatus STRING, o_cents BIGINT"
LOAD = ("SELECT o_orderkey, o_custkey, o_orderstatus, "
        "CAST(round(o_totalprice * 100) AS BIGINT) AS o_cents FROM {src}")
MV_SELECT = ("SELECT o_orderstatus, o_orderkey % 10 AS kdec, count(*) AS cnt, "
             "sum(o_cents) FROM {t} GROUP BY o_orderstatus, o_orderkey % 10")
MV_COLS = "o_orderstatus, kdec, cnt, sum_o_cents"
STATUSES = ["F", "O", "P"]

DML_TYPES = ["update_cow", "update_mor", "delete_cow", "delete_mor", "merge_cow",
             "merge_mor", "insert", "mv_refresh", "stream_epoch", "optimize"]
READ_TYPES = ["point", "range", "part_agg", "meta_agg", "time_travel", "mv_read", "history"]
ANALYTIC_TYPES = ["lab", "llm", "tpch", "ext"]


def spark_name(t):
    return f"graft.bench.{t}"


class Ops:
    def __init__(self):
        self.ops = []
        self.round = 0  # timed ops run in whole rounds

    def add(self, phase, typ, kind, table, text, ref=(), rows=None):
        op = {"phase": phase, "id": len(self.ops), "type": typ, "kind": kind,
              "table": table, "text": text, "ref": list(ref), "round": self.round}
        if rows is not None:
            op["rows"] = rows  # user rows an insert or upsert writes
        self.ops.append(op)


def create_table(ops, t, props, orders_path, where=""):
    """CREATE + initial load of one lake table from the orders fixture."""
    tbl = f" TBLPROPERTIES ({props})" if props else ""
    ops.add("setup", "create", "sql", t,
            f"CREATE TABLE {spark_name(t)} ({COLS}) PARTITIONED BY (o_orderstatus){tbl}",
            [f"CREATE TABLE {t} ({COLS.replace('STRING', 'VARCHAR')})"])
    ops.add("setup", "load", "sql", t,
            f"INSERT INTO {spark_name(t)} " + LOAD.format(src="src_orders") + where,
            [f"INSERT INTO {t} " + LOAD.format(src=f"read_parquet('{orders_path}')") + where])


class Writer:
    """Generates narrow DML against the lake tables; tracks the key blocks
    each table received during the run so statements can aim at them."""

    def __init__(self, rng, base_keys, batch_dir):
        self.rng, self.n, self.batch_dir = rng, base_keys, batch_dir
        self.next_key = 10_000_000
        self.inserted = {}
        os.makedirs(batch_dir, exist_ok=True)

    def _batch(self, name, keys):
        rng = self.rng
        n = len(keys)
        path = os.path.join(self.batch_dir, f"{name}.parquet")
        pq.write_table(pa.table({
            "o_orderkey": np.array(keys, dtype=np.int64),
            "o_custkey": np.array([rng.randrange(self.n // 10) for _ in range(n)], dtype=np.int64),
            "o_orderstatus": [rng.choice(STATUSES) for _ in range(n)],
            "o_cents": np.array([rng.randrange(100_000, 50_000_000) for _ in range(n)],
                                dtype=np.int64)}), path)
        return path

    def _fresh(self, t, n):
        lo = self.next_key
        self.next_key += n
        self.inserted.setdefault(t, []).append((lo, lo + n))
        return list(range(lo, lo + n))

    def _key_range(self, t, aim):
        """A key range covering 0.1-1% of the base rows (aim "base"), or a
        block the table received during the run (aim "inserted", when it
        has one)."""
        rng = self.rng
        if aim == "inserted" and self.inserted.get(t):
            lo, hi = rng.choice(self.inserted[t])
            return lo, hi - 1
        w = rng.randrange(self.n // 1000, self.n // 100)
        lo = rng.randrange(0, self.n - w)
        return lo, lo + w

    def update(self, ops, phase, t, aim="base"):
        lo, hi = self._key_range(t, aim)
        d = self.rng.randrange(1, 1000)
        body = f"SET o_cents = o_cents + {d} WHERE o_orderkey BETWEEN {lo} AND {hi}"
        ops.add(phase, f"update_{t}", "sql", t, f"UPDATE {spark_name(t)} {body}",
                [f"UPDATE {t} {body}"])

    def delete(self, ops, phase, t, aim="base"):
        if aim == "bloom":
            cond = f"o_custkey = {self.rng.randrange(self.n // 10)}"
        else:
            lo, hi = self._key_range(t, aim)
            cond = f"o_orderkey BETWEEN {lo} AND {hi}"
        ops.add(phase, f"delete_{t}", "sql", t, f"DELETE FROM {spark_name(t)} WHERE {cond}",
                [f"DELETE FROM {t} WHERE {cond}"])

    def merge(self, ops, phase, t):
        rng = self.rng
        old = set()
        while len(old) < 500:
            if self.inserted.get(t) and rng.random() < 0.5:
                lo, hi = rng.choice(self.inserted[t])
                old.add(rng.randrange(lo, hi))
            else:
                old.add(rng.randrange(self.n))
        path = self._batch(f"m{len(ops.ops)}", sorted(old) + self._fresh(t, 500))
        ops.add(phase, f"merge_{t}", "sql", t,
                f"MERGE INTO {spark_name(t)} t USING (SELECT * FROM parquet.`{path}`) s "
                "ON t.o_orderkey = s.o_orderkey "
                "WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *",
                [f"DELETE FROM {t} WHERE o_orderkey IN "
                 f"(SELECT o_orderkey FROM read_parquet('{path}'))",
                 f"INSERT INTO {t} SELECT * FROM read_parquet('{path}')"], rows=1000)

    def insert(self, ops, phase, t, n=100):
        path = self._batch(f"i{len(ops.ops)}", self._fresh(t, n))
        ops.add(phase, "insert", "sql", t,
                f"INSERT INTO {spark_name(t)} SELECT * FROM parquet.`{path}`",
                [f"INSERT INTO {t} SELECT * FROM read_parquet('{path}')"], rows=n)


def lake_dml(seed, orders_path, base_keys, work, rounds=12):
    """COW + MOR tables, a materialized view over the COW table and a
    stream source -> target pair, then seeded rounds of single writes.

    A round is a fixed mix of narrow writes in a seeded order, then a
    refresh of the view and a compaction + vacuum of one table
    (alternating), so each round covers the same change and a run spans
    compaction cycles. Cheap single-file writes are the majority, which
    keeps the round's median inside one cluster of latencies instead of
    on the edge between cheap and expensive statements."""
    rng = random.Random(seed)
    ops = Ops()
    w = Writer(rng, base_keys, os.path.join(work, "batches"))
    create_table(ops, "cow", "statsCols 'o_orderkey'", orders_path)
    create_table(ops, "mor", "statsCols 'o_orderkey', deleteMode 'mor', bloomCols 'o_custkey'",
                 orders_path)
    create_table(ops, "src", "", orders_path, where=" WHERE o_orderkey % 10 = 0")
    ops.add("setup", "create", "sql", "tgt",
            f"CREATE TABLE {spark_name('tgt')} ({COLS}) PARTITIONED BY (o_orderstatus)")
    ops.add("setup", "stream_epoch", "stream", "tgt", "src,tgt")
    ops.add("setup", "create", "sql", "mv",
            f"CREATE MATERIALIZED VIEW {spark_name('mv')} AS "
            + MV_SELECT.format(t=spark_name("cow")))

    def refresh(phase):
        ops.add(phase, "mv_refresh", "sql", "mv",
                f"REFRESH MATERIALIZED VIEW {spark_name('mv')}")

    def insert_src(phase):
        w.insert(ops, phase, "src")
        ops.add(phase, "stream_epoch", "stream", "tgt", "src,tgt")

    def verb(v, t, aim=None):
        return lambda p: getattr(w, v)(ops, p, t, *([aim] if aim else []))

    def insert(t):
        return lambda p: w.insert(ops, p, t)

    # the untimed warm-up round holds each kind of write once; a timed
    # round fixes how many writes aim at base rows, at blocks inserted
    # during the run, or (MOR deletes) at the bloom column, since those
    # differ several-fold in cost
    warm = [verb("update", "cow"), verb("update", "mor"), verb("delete", "cow"),
            verb("delete", "mor", "bloom"), verb("merge", "cow"), verb("merge", "mor"),
            insert("cow"), insert("mor"), insert_src]
    units = [verb("update", "cow"), verb("update", "cow", "inserted"), verb("update", "mor"),
             verb("delete", "cow"), verb("delete", "cow", "inserted"),
             verb("delete", "mor", "bloom"), verb("delete", "mor", "inserted"),
             verb("merge", "cow"), verb("merge", "mor"),
             insert("cow"), insert("cow"), insert("mor"), insert_src]
    for r in range(rounds + 1):
        phase = "warm" if r == 0 else "timed"
        ops.round = r
        mix = warm if r == 0 else units
        for u in rng.sample(mix, len(mix)):
            u(phase)
        # the refresh comes first: the view's delta must not span files a
        # cow vacuum reclaims
        refresh(phase)
        t = "cow" if r % 2 else "mor"
        ops.add(phase, "optimize", "sql", t,
                f"CALL graft.system.optimize(table => 'bench.{t}'); "
                f"CALL graft.system.vacuum(table => 'bench.{t}', "
                "retain_hours => 0.0D, keep_versions => 2)")
    ops.add("final", "stream_epoch", "stream", "tgt", "src,tgt")
    refresh("final")
    return ops.ops


def lake_read(seed, orders_path, base_keys, work, rounds=300):
    """A COW and a MOR table built through the same seeded DML (so they
    carry deletion vectors, several files per partition and a version
    history), a materialized view, then seeded reads."""
    rng = random.Random(seed)
    ops = Ops()
    w = Writer(rng, base_keys, os.path.join(work, "batches"))
    create_table(ops, "cow", "statsCols 'o_orderkey'", orders_path)
    create_table(ops, "mor", "statsCols 'o_orderkey', deleteMode 'mor', bloomCols 'o_custkey'",
                 orders_path)
    # the same three verbs on each table, in a fixed order so every seed
    # builds the same layout (files, deletion vectors); the merges insert
    # fresh keys too
    for t in ("cow", "mor"):
        for v in ("update", "delete", "merge"):
            getattr(w, v)(ops, "setup", t)
    ops.add("setup", "create", "sql", "mv",
            f"CREATE MATERIALIZED VIEW {spark_name('mv')} AS "
            + MV_SELECT.format(t=spark_name("cow")))
    steps = range(len(ops.ops))
    first = {t: next(i for i, o in enumerate(ops.ops) if o["type"] == "load" and o["table"] == t)
             for t in ("cow", "mor")}

    # Zipf-skewed hot keys mixed with uniform keys
    hot = [rng.randrange(base_keys) for _ in range(64)]
    zipf = [1.0 / (i + 1) for i in range(len(hot))]
    inserted = {t: [k for lo, hi in w.inserted.get(t, []) for k in (lo, hi - 1)]
                for t in ("cow", "mor")}

    def read(phase, typ, t, sql):
        ops.add(phase, typ, "read", t, sql.format(t=spark_name(t)), [sql.format(t=t)])

    def read_op(phase, typ, t):
        if typ == "point":
            if t == "bloom":
                t = "mor"
                cond = f"o_custkey = {rng.randrange(base_keys // 10)}"  # bloom-pruned
            else:
                r = rng.random()
                k = (rng.choices(hot, zipf)[0] if r < 0.5 else
                     rng.choice(inserted[t]) if r < 0.6 and inserted[t] else
                     rng.randrange(base_keys))
                cond = f"o_orderkey = {k}"
            read(phase, typ, t, "SELECT o_orderkey, o_custkey, o_orderstatus, o_cents "
                 "FROM {t} WHERE " + cond)
        elif typ == "range":
            lo = rng.randrange(base_keys)
            read(phase, typ, t, "SELECT count(*), coalesce(sum(o_cents), 0) FROM {t} "
                 f"WHERE o_orderkey BETWEEN {lo} AND {lo + rng.randrange(100, 5000)}")
        elif typ == "part_agg":
            read(phase, typ, t, "SELECT o_orderkey % 10, count(*), sum(o_cents) FROM {t} "
                 f"WHERE o_orderstatus = '{rng.choice(STATUSES)}' GROUP BY o_orderkey % 10")
        elif typ == "meta_agg":
            # answerable from the manifest alone; min/max are not on the
            # MOR table (a deleted row may be the recorded extremum)
            aggs = "count(*)" if t == "mor" else "count(*), min(o_orderkey), max(o_orderkey)"
            read(phase, typ, t, f"SELECT o_orderstatus, {aggs} FROM {{t}} GROUP BY o_orderstatus")
        elif typ == "time_travel":
            k = rng.choice([s for s in steps if s >= first[t] and s < len(steps) - 1])
            ops.add(phase, typ, "read", t,
                    f"SELECT count(*), coalesce(sum(o_cents), 0) FROM {spark_name(t)} "
                    f"VERSION AS OF {{ver:{t}:{k}}}", [f"step:{k}"])
        elif typ == "mv_read":
            ops.add(phase, typ, "read", "mv", f"SELECT {MV_COLS} FROM {spark_name('mv')}",
                    [MV_SELECT.format(t="cow")])
        else:
            ops.add(phase, typ, "read", t,
                    f"SELECT version, rows FROM {spark_name(t)}.__history", ["history"])

    # one round: every read type on both tables (point lookups twice, one
    # of the MOR ones by the bloom column), in a seeded order
    mix = ([("point", t) for t in ("cow", "cow", "mor", "bloom")]
           + [(typ, t) for typ in ("range", "part_agg", "meta_agg", "time_travel", "history")
              for t in ("cow", "mor")]
           + [("mv_read", "mv")])
    # reads are cheap, so the JIT is still speeding them up after one
    # round; three untimed rounds put the window on the flat part
    for r in range(rounds + 3):
        ops.round = r
        for typ, t in rng.sample(mix, len(mix)):
            read_op("warm" if r < 3 else "timed", typ, t)
    return ops.ops


def analytic(seed, modules, rounds=200):
    """The given queries ({module: [query]}), every one of them once per
    round in a seeded order; the first round is the untimed warm-up,
    whose results are checked against the oracle."""
    rng = random.Random(seed)
    ops = Ops()
    chosen = [(m, q) for m in sorted(modules) for q in modules[m]]
    for r in range(rounds + 1):
        ops.round = r
        for m, q in rng.sample(chosen, len(chosen)):
            ops.add("warm" if r == 0 else "timed", m, "query", "-", q)
    return ops.ops


def write_ops(path, ops):
    with open(path, "w") as f:
        for o in ops:
            assert "\t" not in o["text"] and "\n" not in o["text"], o["text"]
            f.write("\t".join([o["phase"], str(o["id"]), o["type"], o["kind"], o["table"],
                               str(o["round"]), o["text"]]) + "\n")
