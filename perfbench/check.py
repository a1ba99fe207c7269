"""Output checks for perfbench passes, run with DuckDB on the same files.

Each pass manifest (written by the Scala harness) names the input files
behind every table view and, per call, the output it drained plus the
check to run on it. Check kinds:

- rows: the output equals the oracle SQL's rows (the repo's own oracle
  generators), compared column by column, every row.
- equal: two lists computed by the harness must be equal.
- derby: rows read back from the Derby export store equal the oracle's
  test outcomes.
- knn: every ANN neighbour carries its true cosine, each query has at
  most k neighbours, and recall against brute-force top-k is at least
  0.5 (recall is reported).
"""
import calendar
import datetime
import decimal
import hashlib
import json
import math
import os
import pickle

import duckdb

REL_TOL = 1e-9
RECALL_FLOOR = 0.5


def connect():
    con = duckdb.connect()
    con.execute("SET TimeZone='UTC'")
    con.execute("SET threads=4")
    return con


def norm(v):
    if v is None:
        return None
    if isinstance(v, bool):
        return v
    if isinstance(v, (int, float, decimal.Decimal)):
        f = float(v)
        return None if math.isnan(f) else f
    if isinstance(v, datetime.datetime):
        # the harness writes timestamps as epoch microseconds
        if v.tzinfo is not None:
            v = v.astimezone(datetime.timezone.utc).replace(tzinfo=None)
        return float(calendar.timegm(v.timetuple()) * 1_000_000 + v.microsecond)
    if isinstance(v, datetime.date):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return tuple(norm(x) for x in v)
    if isinstance(v, dict):
        return tuple(sorted((k, norm(x)) for k, x in v.items()))
    return v


def sort_key(row):
    return tuple((0, "") if x is None else
                 (1, f"{x:.6g}") if isinstance(x, float) else (2, repr(x))
                 for x in row)


def close(a, b):
    if isinstance(a, float) and isinstance(b, float):
        return a == b or abs(a - b) <= REL_TOL * max(abs(a), abs(b), 1.0)
    if isinstance(a, tuple) and isinstance(b, tuple):
        return len(a) == len(b) and all(close(x, y) for x, y in zip(a, b))
    return a == b


def load_jsonl(path):
    with open(path) as f:
        return [json.loads(line) for line in f if line.strip()]


class Checker:
    def __init__(self, cache_dir):
        self.con = connect()
        self.cache = {}
        self.cache_dir = cache_dir
        self.views = None

    def set_views(self, views):
        key = json.dumps(views, sort_keys=True)
        if key == self.views:
            return
        for name, files in views.items():
            lst = ", ".join(f"'{f}'" for f in files)
            self.con.execute(
                f"CREATE OR REPLACE VIEW {name} AS "
                f"SELECT * FROM read_parquet([{lst}])")
        self.views = key

    def oracle(self, sql):
        """Oracle rows, cached by (views, SQL): the inputs behind a view are
        immutable files of the seeded input cache, so a result computed
        once holds for every later run of the same seed."""
        key = hashlib.sha256(f"{self.views}\n{sql}".encode()).hexdigest()
        if key not in self.cache:
            path = os.path.join(self.cache_dir, key + ".pickle")
            if os.path.exists(path):
                with open(path, "rb") as f:
                    self.cache[key] = pickle.load(f)
            else:
                cur = self.con.execute(sql)
                cols = [d[0] for d in cur.description]
                self.cache[key] = (cols, cur.fetchall())
                os.makedirs(self.cache_dir, exist_ok=True)
                with open(path + ".tmp", "wb") as f:
                    pickle.dump(self.cache[key], f)
                os.replace(path + ".tmp", path)
        return self.cache[key]

    def rows(self, c):
        got = load_jsonl(c["out"])
        cols, want = self.oracle(c["sql"])
        ignore = set(c.get("ignore", []))
        cols = [x for x in cols if x not in ignore]
        want_d = [dict(zip(self.oracle(c["sql"])[0], r)) for r in want]
        only = c.get("only_columns")
        if only is not None:
            want_d = [r for r in want_d if r["column_name"] in only]
            got = [r for r in got if r.get("column_name") in only]
        if got and set(got[0]) - ignore != set(cols):
            return f"columns {sorted(set(got[0]) - ignore)} vs {sorted(cols)}"
        g = sorted((tuple(norm(r.get(k)) for k in cols) for r in got),
                   key=sort_key)
        w = sorted((tuple(norm(r[k]) for k in cols) for r in want_d),
                   key=sort_key)
        if len(g) != len(w):
            return f"{len(g)} rows vs oracle {len(w)}"
        for a, b in zip(g, w):
            if not close(a, b):
                diff = [(k, x, y) for k, x, y in zip(cols, a, b)
                        if not close(x, y)]
                return f"value mismatch {diff[:3]}"
        return None

    def equal(self, c):
        return None if c["got"] == c["want"] else \
            f"{c['what']}: {sorted(set(c['got']) ^ set(c['want']))[:6]}"

    def derby(self, c):
        keys = ["table_name", "column_name", "test_type", "status",
                "measure", "threshold"]
        got = load_jsonl(c["out"])
        cols, want = self.oracle(c["sql"])
        want = [dict(zip(cols, r)) for r in want]
        g = sorted((tuple(norm(r[k]) for k in keys) for r in got),
                   key=sort_key)
        w = sorted((tuple(norm(r[k]) for k in keys) for r in want),
                   key=sort_key)
        if len(g) != len(w):
            return f"{len(g)} stored outcomes vs oracle {len(w)}"
        bad = [(a, b) for a, b in zip(g, w) if not close(a, b)]
        return f"stored outcome mismatch {bad[:2]}" if bad else None

    def knn(self, c):
        k, q = c["k"], c["queries"]
        got = load_jsonl(c["out"])
        exact = self.oracle(f"""
            WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e
                       FROM embeddings),
            s AS (SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
                    list_inner_product(a.e, b.e) /
                    (sqrt(list_inner_product(a.e, a.e)) *
                     sqrt(list_inner_product(b.e, b.e))) AS cos
                  FROM v a JOIN v b ON a.vec_id <> b.vec_id
                  WHERE a.vec_id < {q})
            SELECT query_id, neighbor_id, cos, row_number() OVER (
                PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rk
            FROM s""")[1]
        cos = {(a, b): x for a, b, x, _ in exact}
        top = {(a, b) for a, b, _, r in exact if r <= k}
        per_q = {}
        for r in got:
            key = (r["query_id"], r["neighbor_id"])
            if key not in cos or abs(round(cos[key], 4) - r["cos_sim"]) > 1.5e-4:
                return f"neighbour {key} cos {r['cos_sim']} is not its cosine"
            per_q[key[0]] = per_q.get(key[0], 0) + 1
        if any(n > k for n in per_q.values()):
            return "more than k neighbours for a query"
        hits = sum(1 for r in got if (r["query_id"], r["neighbor_id"]) in top)
        c["recall"] = hits / (k * q)
        if c["recall"] < RECALL_FLOOR:
            return f"recall {c['recall']:.3f} below {RECALL_FLOOR}"
        return None

    def run(self, manifest):
        """Check every call of one pass; returns (failed calls, details)."""
        self.set_views(manifest["views"])
        failed, notes = 0, []
        for op in manifest["ops"]:
            op["ok"] = "error" not in op
            if not op["ok"]:
                notes.append(f"{op['name']}: {op['error'][:300]}")
            for c in op["checks"]:
                try:
                    err = getattr(self, c["kind"])(c)
                except Exception as e:  # an oracle or parse error fails it
                    err = f"check error {e!r}"[:300]
                if err:
                    op["ok"] = False
                    notes.append(f"{op['name']}: {err}")
        # a pass's outputs are used together: one wrong output fails
        # every call of the attempt, and calls it never reached
        if notes or len(manifest["ops"]) < manifest["planned"]:
            failed = manifest["planned"]
        return failed, notes

    def stream_profiles(self, path, slice_files):
        """Per-trigger streaming profiles against DuckDB on the slices the
        trigger consumed: exact counts and extrema, distinct counts (an
        HLL sketch) within 10%."""
        failed = attempted = 0
        notes = []
        for line in load_jsonl(path):
            attempted += 1
            files = ", ".join(f"'{slice_files[i]}'" for i in line["slices"])
            if not files or len(line["rows"]) != 1:
                failed += 1
                notes.append(f"profile for slices {line['slices']}: no row")
                continue
            got = line["rows"][0]
            err = None
            for col in ("event_id", "user_id", "event_type", "value"):
                want = self.con.execute(
                    f"SELECT count(*), count({col}), "
                    f"count(*) - count({col}), count(DISTINCT {col}), "
                    f"min({col}), max({col}) "
                    f"FROM read_parquet([{files}])").fetchone()
                rc, vc, nc, dc, mn, mx = want
                if (got["record_ct"], got[f"{col}_value_ct"],
                        got[f"{col}_null_ct"]) != (rc, vc, nc):
                    err = f"{col} counts"
                elif abs(got[f"{col}_distinct_ct"] - dc) > max(2, 0.1 * dc):
                    err = f"{col} distinct {got[f'{col}_distinct_ct']} vs {dc}"
                elif isinstance(mn, str):
                    if (got[f"{col}_min"], got[f"{col}_max"]) != (mn, mx):
                        err = f"{col} extrema"
                elif (float(got[f"{col}_min"]), float(got[f"{col}_max"])) \
                        != (float(mn), float(mx)):
                    err = f"{col} extrema"
                if err:
                    break
            if err:
                failed += 1
                notes.append(f"profile for slices {line['slices']}: {err}")
        return attempted, failed, notes
