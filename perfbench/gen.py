"""Seeded input generator for the migrate_bulk and migrate_sync workloads.

Everything here is plain Python: dump, CSV and NDJSON text is written by
hand, parquet batch files by pyarrow, and Derby source rows are handed to
the harness as NDJSON for it to load over raw JDBC. Nothing goes through
the library's writers.

The generator also computes the expected final state of every target as
an order-independent fingerprint (see `fingerprint`). The harness
computes the same fingerprint over what the library actually wrote.
"""

import hashlib
import json
import os
import random

import pyarrow as pa
import pyarrow.parquet as pq

NULL = "\\N"
SEP = "\x1f"

# String material that is hard for text formats: quotes of both kinds,
# backslashes, separators, parentheses (the dump parser's row syntax),
# SQL keywords and non-ASCII text. No value is empty, none looks numeric,
# none holds a newline, and a backslash is always followed by a letter
# (the CSV dialect escapes quotes with a backslash).
WORDS = [
    "alpha", "Beta", "gamma", "o'brien", 'say "hi"', "back\\slash",
    "comma, here", "semi;colon", "(paren)", "a),(b", "NULL-ish", "tab\\t",
    "ünïcödé", "漢字テキスト", "emoji🙂ok", "Zoë", "naïve café", "x'y\"z",
    "VALUES", "INSERT", "percent%", "under_score", "dash-dash", "slash/ok",
]
CATS = ["red", "green", "blue", "cyan", "magenta", "yellow", "black"]


def canon(v):
    """One value as the text the harness renders with Spark's
    cast-to-string; NULL has its own marker."""
    if v is None:
        return NULL
    if isinstance(v, float):
        return repr(v)
    return str(v)


def fingerprint(cols, rows):
    """Order-independent fingerprint of a table: its lower-cased column
    names in sorted order, its row count, and the sum over rows of the
    first 60 bits of SHA-1 of the row's canonical line."""
    names = [c.lower() for c in cols]
    order = sorted(range(len(cols)), key=lambda i: names[i])
    total = 0
    for r in rows:
        line = SEP.join(canon(r[i]) for i in order)
        total += int(hashlib.sha1(line.encode("utf-8")).hexdigest()[:15], 16)
    return {"cols": [names[i] for i in order], "count": len(rows), "sum": str(total)}


def _name(rng):
    return " ".join(rng.choice(WORDS) for _ in range(rng.randint(1, 3))) + " " + str(rng.randint(0, 999)) + "x"


def _amt(rng):
    return rng.randint(-4000, 4000) / 4.0


def _pool(rng, n=4000):
    """Distinct-enough names to draw rows from cheaply."""
    return [_name(rng) for _ in range(n)]


def _rows(rng, pool, n, dup_share):
    """`n` rows of (id, name, amt, cat, note); about `dup_share` of them
    are exact copies of an earlier row. Row 0 has no NULLs so schema
    inference sees every column."""
    rows = []
    rnd = rng.random
    np_, nc = len(pool), len(CATS)
    next_id = rng.randint(1, 1000)
    for i in range(n):
        if i > 0 and rnd() < dup_share:
            rows.append(rows[int(rnd() * len(rows))])
            continue
        amt = (int(rnd() * 8001) - 4000) / 4.0 if i == 0 or rnd() >= 0.1 else None
        note = pool[int(rnd() * np_)] if i == 0 or rnd() >= 0.3 else None
        rows.append((next_id, pool[int(rnd() * np_)], amt, CATS[int(rnd() * nc)], note))
        next_id += 1 + int(rnd() * 3)
    return rows


COLS = ["id", "name", "amt", "cat", "note"]


# --------------------------------------------------------------------- writers

def _sql_str(s):
    return "'" + s.replace("\\", "\\\\").replace("'", "\\'") + "'"


def _sql_val(v):
    if v is None:
        return "NULL"
    if isinstance(v, str):
        return _sql_str(v)
    return canon(v)


def write_dump(path, table, rows, per_stmt=400):
    with open(path, "w", encoding="utf-8") as f:
        f.write("-- generated dump\n")
        f.write(f"CREATE TABLE `{table}` (\n")
        f.write("  `id` bigint NOT NULL,\n  `name` varchar(255),\n  `amt` double,\n"
                "  `cat` varchar(32),\n  `note` text\n) ENGINE=InnoDB;\n")
        for s in range(0, len(rows), per_stmt):
            vals = ",".join("(" + ",".join(_sql_val(v) for v in r) + ")" for r in rows[s:s + per_stmt])
            f.write(f"INSERT INTO `{table}` VALUES {vals};\n")


def _csv_field(v):
    if v is None:
        return ""
    s = canon(v)
    if any(ch in s for ch in ',"\\') or s != s.strip():
        return '"' + s.replace('"', '\\"') + '"'
    return s


def write_csv(path, cols, rows):
    with open(path, "w", encoding="utf-8", newline="") as f:
        f.write(",".join(cols) + "\n")
        for r in rows:
            f.write(",".join(_csv_field(v) for v in r) + "\n")


def write_ndjson(path, cols, rows):
    with open(path, "w", encoding="utf-8") as f:
        for r in rows:
            f.write(json.dumps(dict(zip(cols, r)), ensure_ascii=False) + "\n")


def write_parquet_dir(path, schema, cols, rows):
    os.makedirs(path, exist_ok=True)
    arrays = [pa.array([r[i] for r in rows], type=schema.field(c).type) for i, c in enumerate(cols)]
    pq.write_table(pa.Table.from_arrays(arrays, schema=schema), os.path.join(path, "part-00000.parquet"))


# ------------------------------------------------------------------ migrate_bulk

KINDS = ["sqldump", "csv", "json", "jdbc"]
GROUPS = ["plain", "tx", "txdd"]
N_TABLES = 52
TO_DERBY_PER_KIND = 3


def bulk_sizes():
    """Zipf table sizes, identical for every seed so every run moves the
    same number of rows: 300 up to 30k rows (rank^-1.1)."""
    return [max(300, int(30000 / r ** 1.1)) for r in range(1, N_TABLES + 1)]


def apply_tx(kind, rows):
    """Expected effect of the workload's Transform: keep ids not divisible
    by 5, rename name->label, add src=<kind>. Columns: id, label, amt,
    cat, note, src."""
    return [r + (kind,) for r in rows if r[0] % 5 != 0]


def gen_bulk(root, seed):
    rng = random.Random(seed)
    pool = _pool(rng)
    sizes = bulk_sizes()
    # deal ranks round-robin to kinds, so every kind moves the same rows
    by_kind = {k: sizes[i::len(KINDS)] for i, k in enumerate(KINDS)}
    tables, expected = [], {}
    derby_src = []
    for kind in KINDS:
        ranked = by_kind[kind]
        smallest = ranked[-TO_DERBY_PER_KIND:]
        rest = ranked[:-TO_DERBY_PER_KIND]
        plan = [("derby", n) for n in smallest] + [(GROUPS[i % 3], n) for i, n in enumerate(rest)]
        for j, (group, n) in enumerate(plan):
            tname = f"t{j:02d}_{rng.randrange(16 ** 4):04x}"
            if kind == "jdbc":
                tname = tname.upper()
            rows = _rows(rng, pool, n, 0.05)
            db = f"{kind}_{group}"
            ddir = os.path.join(root, "bulk", db)
            os.makedirs(ddir, exist_ok=True)
            if kind == "sqldump":
                write_dump(os.path.join(ddir, tname + ".sql"), tname, rows)
            elif kind == "csv":
                write_csv(os.path.join(ddir, tname + ".csv"), COLS, rows)
            elif kind == "json":
                write_ndjson(os.path.join(ddir, tname + ".json"), COLS, rows)
            else:
                path = os.path.join(ddir, tname + ".ndjson")
                write_ndjson(path, COLS, rows)
                derby_src.append({"db": db, "table": tname, "rows": path})
            dedup_in = 0
            if group == "txdd":
                seen, out = set(), []
                for r in rows:
                    if r[0] not in seen:
                        seen.add(r[0])
                        out.append(r)
                exp_rows = apply_tx(kind, out)
                dedup_in = len(apply_tx(kind, rows))
            elif group == "tx":
                exp_rows = apply_tx(kind, rows)
            else:
                exp_rows = rows
            cols = COLS if group in ("plain", "derby") else ["id", "label", "amt", "cat", "note", "src"]
            expected[f"{db}/{tname}"] = fingerprint(cols, exp_rows)
            tables.append({"db": db, "kind": kind, "group": group, "table": tname,
                           "rows_in": len(rows), "rows_dedup_in": dedup_in, "rows_out": len(exp_rows)})
    # warm-up databases: one small table per source kind, copied in set-up
    for kind in KINDS:
        db = f"warm_{kind}"
        ddir = os.path.join(root, "bulk", db)
        os.makedirs(ddir, exist_ok=True)
        tname = "WARM" if kind == "jdbc" else "warm"
        rows = _rows(rng, pool, 200, 0.05)
        if kind == "sqldump":
            write_dump(os.path.join(ddir, tname + ".sql"), tname, rows)
        elif kind == "csv":
            write_csv(os.path.join(ddir, tname + ".csv"), COLS, rows)
        elif kind == "json":
            write_ndjson(os.path.join(ddir, tname + ".json"), COLS, rows)
        else:
            path = os.path.join(ddir, tname + ".ndjson")
            write_ndjson(path, COLS, rows)
            derby_src.append({"db": db, "table": tname, "rows": path})
    # the two-source merge (MergeJob): CSV left side keyed by integer id,
    # NDJSON right side keyed by the same ids written as floats (12.0)
    left = _rows(rng, pool, 3000, 0.0)
    left = [(r[0], r[1], r[3], r[2]) for r in left]  # id, name, cat, amt
    right, rkeys = [], set()
    for r in left:
        if rng.random() < 0.7 and r[0] not in rkeys:
            rkeys.add(r[0])
            cat = rng.choice(CATS) if rng.random() < 0.8 else None
            right.append((float(r[0]), cat, _amt(rng)))
    rng.shuffle(right)
    mdir = os.path.join(root, "bulk", "merge")
    os.makedirs(mdir, exist_ok=True)
    write_csv(os.path.join(mdir, "m_left.csv"), ["id", "name", "cat", "amt"], left)
    write_ndjson(os.path.join(mdir, "m_right.json"), ["uid", "cat", "score"], right)
    rmap = {int(r[0]): r for r in right}
    merged = []
    for (i, name, cat, amt) in left:
        m = rmap.get(i)
        if m is None:
            merged.append((i, name, cat, amt, None, None))
        else:
            merged.append((i, name, m[1] if m[1] is not None else cat, amt, m[0], m[2]))
    expected["merge/merged"] = fingerprint(["id", "name", "cat", "amt", "uid", "score"], merged)
    spec = {"tables": tables, "derby_src": derby_src, "expected": expected, "merge_rows": len(left)}
    return spec


# ------------------------------------------------------------------ migrate_sync

SYNC_SCHEMA = pa.schema([("id", pa.int64()), ("name", pa.string()),
                         ("amt", pa.float64()), ("ver", pa.int64())])
SYNC_COLS = ["id", "name", "amt", "ver"]
# target -> (write mode, initial rows, rows per batch)
SYNC_TARGETS = {
    "parquet": ("replace", 10000, 300),
    "manifest": ("replace", 10000, 300),
    "jdbc_ignore": ("ignore", 1500, 30),
    "jdbc_replace": ("replace", 1500, 30),
    "stream": ("append", 3000, 300),
}
BATCHES_PER_TARGET = 32
# shares of a keyed batch: updates of existing keys, new keys, and
# exact-duplicate retries of a row the target already holds
SHARE_UPDATE, SHARE_NEW = 0.5, 0.3
STREAM_RETRY_EVERY = 5  # every 5th stream op re-delivers the last file


def _sync_row(rng, pool, i, ver):
    amt = _amt(rng) if rng.random() >= 0.1 else None
    return (i, pool[int(rng.random() * len(pool))], amt, ver)


def gen_sync(root, seed):
    rng = random.Random(seed)
    pool = _pool(rng)
    spec = {"targets": {}}
    for tname, (mode, n0, bsz) in SYNC_TARGETS.items():
        tdir = os.path.join(root, "sync", tname)
        init = [_sync_row(rng, pool, i * 2 + 1, 0) for i in range(n0)]
        state = {r[0]: r for r in init}
        next_id = n0 * 2 + 1
        batches = []
        for b in range(BATCHES_PER_TARGET):
            keys = list(state.keys()) if mode != "append" else []
            rows, used = [], set()
            for _ in range(bsz):
                u = rng.random()
                if mode != "append" and u < SHARE_UPDATE:
                    k = rng.choice(keys)
                    if k in used:
                        continue
                    old = state[k]
                    rows.append(_sync_row(rng, pool, k, old[3] + 1))
                elif mode != "append" and u >= SHARE_UPDATE + SHARE_NEW:
                    k = rng.choice(keys)
                    if k in used:
                        continue
                    rows.append(state[k])
                elif mode == "append" and u >= SHARE_UPDATE + SHARE_NEW and batches:
                    # a row re-sent in a later file: appended again
                    prev = batches[rng.randrange(len(batches))]
                    rows.append(prev[rng.randrange(len(prev))])
                    continue
                else:
                    k = next_id
                    next_id += rng.randint(1, 3)
                    rows.append(_sync_row(rng, pool, k, 0))
                used.add(rows[-1][0])
            for r in rows:
                if mode == "ignore":
                    state.setdefault(r[0], r)
                else:
                    state[r[0]] = r
            batches.append(rows)
        if mode == "append":
            os.makedirs(os.path.join(tdir, "staged"), exist_ok=True)
            write_ndjson(os.path.join(tdir, "staged", "b0000.json"), SYNC_COLS, init)
            for b, rows in enumerate(batches, 1):
                write_ndjson(os.path.join(tdir, "staged", f"b{b:04d}.json"), SYNC_COLS, rows)
        else:
            write_parquet_dir(os.path.join(tdir, "src", "b0000"), SYNC_SCHEMA, SYNC_COLS, init)
            for b, rows in enumerate(batches, 1):
                write_parquet_dir(os.path.join(tdir, "src", f"b{b:04d}"), SYNC_SCHEMA, SYNC_COLS, rows)
        spec["targets"][tname] = {"mode": mode, "init": init, "batches": batches}
    return spec


def sync_expected(spec, tname, applied):
    """Expected state of a sync target after the harness applied the
    batch ops listed in `applied` (batch numbers; for the stream target
    a negative number is a re-delivery of that file, which must change
    nothing)."""
    t = spec["targets"][tname]
    if t["mode"] == "append":
        rows = list(t["init"])
        seen = set()
        for b in applied:
            if b > 0 and b not in seen:
                seen.add(b)
                rows.extend(t["batches"][b - 1])
        return fingerprint(SYNC_COLS, rows)
    state = {r[0]: r for r in t["init"]}
    for b in applied:
        for r in t["batches"][b - 1]:
            if t["mode"] == "ignore":
                state.setdefault(r[0], r)
            else:
                state[r[0]] = r
    return fingerprint(SYNC_COLS, list(state.values()))


def sync_plan(spec):
    """What the harness needs to know: per target, its batch count and
    rows per batch; and the stream's re-delivery cadence."""
    return {"targets": {name: {"batches": len(t["batches"]),
                               "batch_rows": [len(b) for b in t["batches"]]}
                        for name, t in spec["targets"].items()},
            "stream_retry_every": STREAM_RETRY_EVERY}
