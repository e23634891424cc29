"""Independent output checker for the ETL benchmark.

The expected output is recomputed from the generated CSVs with plain Python,
sharing no code with the program: interval expansion, window assignment,
combine, densify and fill are written out below from the contract in
FIXTURES.md and the `graft.etl.Stages` docstrings.

`Expected(in_dir, wl)` holds the expected long form. `check(out_dir, ...)`
returns a list of problems (empty when the output is right). It checks over
the full output:
  - CSV sink: exactly one file per (stay, source), header-only dummies
    included; header `feature_id,0..total_windows`; every row as wide as the
    header; rows sorted by feature_id; the row set equal to the observed
    features; sum conservation for sum sources under zero fill;
  - parquet sink: row count = sum(total_windows + 1) over observed
    (stay, feature) pairs, every pair's tidx exactly 0..total_windows, and
    the companion stay table;
and compares every cell of a seeded sample of stays in every source with a
relative tolerance. `self_test` corrupts a checked output three ways and
requires each to be rejected.
"""

import math
import os
import random
import shutil
from datetime import datetime, timezone

import duckdb

REL_TOL = 1e-9
ABS_TOL = 1e-9

# source -> (time columns, itemid column, value function over the row, combiner)
SOURCES = {
    "chartevents": ((3,), 5, lambda r: num(r[7]), "mean"),
    "outputevents": ((3,), 5, lambda r: num(r[6]), "sum"),
    "inputevents": ((3, 4), 6, lambda r: ratio(r[7], r[17]), "sum"),
    "procedureevents": ((3, 4), 6, lambda r: num(r[7]), "sum"),
}


def num(s):
    try:
        return float(s) if s != "" else None
    except ValueError:
        return None


def ratio(a, b):
    a, b = num(a), num(b)
    return a / b if a is not None and b else None


def epoch(s):
    return int(datetime.fromisoformat(s).replace(tzinfo=timezone.utc).timestamp())


def read_csv(path):
    with open(path) as f:
        next(f)
        return [line.rstrip("\n").split(",") for line in f]


class Expected:
    """Expected long-form output of one workload over one input directory."""

    def __init__(self, in_dir, wl):
        self.wl = wl
        self.step = step = wl["timestep"]
        self.fill = wl["fill"]
        icu = os.path.join(in_dir, "icu")
        # stay_id -> (intime, total_windows)
        self.stays = {}
        for r in read_csv(os.path.join(icu, "icustays.csv")):
            i, o = epoch(r[5]), epoch(r[6])
            self.stays[int(r[2])] = (i, (o - i) // step)
        # source -> {(stay, feature): {tidx: [sum, non-null count]}}
        self.cells = {}
        self.input_rows = 0
        for src in wl["sources"]:
            tcols, icol, value, _ = SOURCES[src]
            pairs = {}
            rows = read_csv(os.path.join(icu, f"{src}.csv"))
            self.input_rows += len(rows)
            for r in rows:
                sid, feat = int(r[2]), int(r[icol])
                if sid not in self.stays:
                    continue
                v = value(r)
                if len(tcols) == 1:
                    marks = [epoch(r[tcols[0]])]
                else:
                    s, e = epoch(r[tcols[0]]), epoch(r[tcols[1]])
                    if e < s:
                        continue
                    marks = range(s, e + 1, step)
                    v = v / len(marks) if v is not None else None
                intime, tw = self.stays[sid]
                for t in marks:
                    tidx = max((t - intime) // step, 0)
                    if tidx > tw:
                        continue
                    acc = pairs.setdefault((sid, feat), {}).setdefault(tidx, [0.0, 0])
                    if v is not None:
                        acc[0] += v
                        acc[1] += 1
            self.cells[src] = pairs
        self.cell_count = sum(self.stays[sid][1] + 1
                              for pairs in self.cells.values() for sid, _ in pairs)

    def combined(self, src, acc):
        s, k = acc
        if k == 0:
            return None
        return s / k if SOURCES[src][3] == "mean" else s

    def dense(self, src, sid, feat):
        """The filled series 0..total_windows of one observed pair."""
        tw = self.stays[sid][1]
        obs = {t: self.combined(src, a) for t, a in self.cells[src][(sid, feat)].items()}
        vals = [obs.get(t) for t in range(tw + 1)]
        if self.fill == "zero":
            return [0.0 if v is None else v for v in vals]
        # linear interpolation: leading gaps 0.0, trailing gaps carry the
        # last observation, interior gaps pv + (nv - pv) * (t - pt) / (nt - pt)
        known = [t for t, v in enumerate(vals) if v is not None]
        out, j = [], 0
        for t, v in enumerate(vals):
            if v is not None:
                out.append(v)
                continue
            while j < len(known) and known[j] < t:
                j += 1
            if j == 0:
                out.append(0.0)
            elif j == len(known):
                out.append(vals[known[-1]])
            else:
                pt, nt = known[j - 1], known[j]
                pv, nv = vals[pt], vals[nt]
                out.append(pv + (nv - pv) * (t - pt) / (nt - pt))
        return out

    def features(self, src):
        """stay -> sorted observed feature ids."""
        out = {}
        for sid, feat in self.cells[src]:
            out.setdefault(sid, []).append(feat)
        for v in out.values():
            v.sort()
        return out

    def kept_sum(self, src):
        return sum(a[0] for pairs in self.cells[src].values() for a in pairs.values())

    def sample(self, seed, share, least=8):
        """Seeded sample of stays whose every cell is compared."""
        rng = random.Random(f"sample:{seed}")
        sids = sorted(self.stays)
        return set(rng.sample(sids, min(len(sids), max(least, int(len(sids) * share)))))


def close(a, b):
    return math.isclose(a, b, rel_tol=REL_TOL, abs_tol=ABS_TOL)


def compare_series(where, got, want, problems):
    if len(got) != len(want):
        problems.append(f"{where}: {len(got)} cells, expected {len(want)}")
        return
    for t, (g, w) in enumerate(zip(got, want)):
        if not close(g, w):
            problems.append(f"{where} window {t}: {g!r}, expected {w!r}")
            return


def check_csv(out_dir, exp, sample, problems):
    want_files = {f"{sid}/{src}_features.csv" for sid in exp.stays for src in exp.wl["sources"]}
    want_files.add("readme.txt")
    got_files = set()
    for d, _, files in os.walk(out_dir):
        rel = os.path.relpath(d, out_dir)
        got_files.update(f if rel == "." else f"{rel}/{f}" for f in files)
    for f in sorted(want_files - got_files)[:5]:
        problems.append(f"missing file {f}")
    for f in sorted(got_files - want_files)[:5]:
        problems.append(f"unexpected file {f}")
    for src in exp.wl["sources"]:
        feats = exp.features(src)
        is_sum = SOURCES[src][3] == "sum"
        total = 0.0
        for sid, (_, tw) in exp.stays.items():
            rel = f"{sid}/{src}_features.csv"
            if rel not in got_files:
                continue
            with open(os.path.join(out_dir, rel)) as f:
                lines = f.read().splitlines()
            header = "feature_id," + ",".join(map(str, range(tw + 1)))
            if not lines or lines[0] != header:
                problems.append(f"{rel}: header {lines[0][:60] if lines else ''!r}..., "
                                f"expected {tw + 2} columns")
                continue
            rows = [line.split(",") for line in lines[1:]]
            got_feats = [int(r[0]) for r in rows]
            if got_feats != sorted(got_feats):
                problems.append(f"{rel}: rows not sorted by feature_id")
            if sorted(got_feats) != feats.get(sid, []):
                problems.append(f"{rel}: features {len(got_feats)} rows, "
                                f"expected {len(feats.get(sid, []))}")
                continue
            for r in rows:
                if len(r) != tw + 2:
                    problems.append(f"{rel} feature {r[0]}: {len(r)} columns, expected {tw + 2}")
                    break
                if sid in sample:
                    compare_series(f"{rel} feature {r[0]}", [float(x) for x in r[1:]],
                                   exp.dense(src, sid, int(r[0])), problems)
                if is_sum and exp.fill == "zero":
                    total += sum(map(float, r[1:]))
        if is_sum and exp.fill == "zero" and not close(total, exp.kept_sum(src)):
            problems.append(f"{src}: cells sum to {total!r}, kept input sums to "
                            f"{exp.kept_sum(src)!r}")


def check_parquet(out_dir, exp, sample, problems):
    con = duckdb.connect()
    if not os.path.exists(os.path.join(out_dir, "readme.txt")):
        problems.append("missing readme.txt")
    try:
        stays = dict(con.execute(
            "SELECT stay_id, total_windows FROM read_parquet(?)",
            [os.path.join(out_dir, "long_stays", "*.parquet")]).fetchall())
    except duckdb.Error as e:
        problems.append(f"long_stays unreadable: {e}")
        stays = {}
    want_stays = {sid: tw for sid, (_, tw) in exp.stays.items()}
    if stays != want_stays:
        problems.append(f"long_stays: {len(stays)} stays, expected {len(want_stays)} "
                        f"(or total_windows differ)")
    for src in exp.wl["sources"]:
        glob = os.path.join(out_dir, "long", f"source={src}", "*.parquet")
        try:
            got = con.execute(
                "SELECT stay_id, feature_id, count(*), count(DISTINCT tidx), min(tidx), "
                "max(tidx) FROM read_parquet(?) GROUP BY 1, 2", [glob]).fetchall()
        except duckdb.Error as e:
            problems.append(f"{src}: unreadable: {e}")
            continue
        pairs = {(s, f): rest for s, f, *rest in got}
        want = exp.cells[src]
        if set(pairs) != set(want):
            problems.append(f"{src}: {len(pairs)} (stay, feature) pairs, expected {len(want)}")
        rows = sum(p[0] for p in pairs.values())
        want_rows = sum(exp.stays[s][1] + 1 for s, _ in want)
        if rows != want_rows:
            problems.append(f"{src}: {rows} rows, expected sum(total_windows+1) = {want_rows}")
        for (s, f), (n, nd, lo, hi) in pairs.items():
            tw = exp.stays[s][1] if s in exp.stays else -1
            if not (n == nd == tw + 1 and lo == 0 and hi == tw):
                problems.append(f"{src} stay {s} feature {f}: tidx {lo}..{hi} in {n} rows, "
                                f"expected 0..{tw}")
                break
        series = {}
        for s, f, t, v in con.execute(
                "SELECT stay_id, feature_id, tidx, value FROM read_parquet(?) "
                "WHERE list_contains(?, stay_id) ORDER BY 1, 2, 3",
                [glob, sorted(sample)]).fetchall():
            series.setdefault((s, f), []).append(v)
        for (s, f), vals in series.items():
            if (s, f) in want:
                compare_series(f"{src} stay {s} feature {f}", vals,
                               exp.dense(src, s, f), problems)
    con.close()


def check(out_dir, exp, sample, max_problems=20):
    problems = []
    if exp.wl["sink"] == "csv":
        check_csv(out_dir, exp, sample, problems)
    else:
        check_parquet(out_dir, exp, sample, problems)
    return problems[:max_problems]


def _mutations_csv(out_dir, exp, sample):
    """(name, apply) pairs; each apply corrupts the output and returns an
    undo function."""
    def pick(nonempty):
        for sid in sorted(sample):
            for src in exp.wl["sources"]:
                p = os.path.join(out_dir, str(sid), f"{src}_features.csv")
                with open(p) as f:
                    text = f.read()
                if not nonempty or text.count("\n") > 1:
                    return p, text
        raise RuntimeError("no sampled stay has a non-empty matrix")

    def rewrite(p, old, new):
        with open(p, "w") as f:
            f.write(new)

        def undo():
            with open(p, "w") as f:
                f.write(old)
        return undo

    def corrupt_cell():
        p, text = pick(True)
        head, first, rest = text.split("\n", 2)
        cells = first.split(",")
        cells[1] = repr(float(cells[1]) + 1.5)
        return rewrite(p, text, "\n".join([head, ",".join(cells), rest]))

    def delete_file():
        p, text = pick(False)
        os.remove(p)
        return lambda: rewrite(p, "", text)

    def widen_header():
        p, text = pick(False)
        head, rest = text.split("\n", 1)
        return rewrite(p, text, f"{head},{len(head.split(',')) - 1}\n{rest}")

    return [("corrupt one cell", corrupt_cell), ("delete one file", delete_file),
            ("widen one header", widen_header)]


def _mutations_parquet(out_dir, exp, sample):
    src = exp.wl["sources"][0]
    part_dir = os.path.join(out_dir, "long", f"source={src}")
    con = duckdb.connect()

    def part_with_sample():
        for name in sorted(os.listdir(part_dir)):
            p = os.path.join(part_dir, name)
            if name.endswith(".parquet") and con.execute(
                    "SELECT count(*) FROM read_parquet(?) WHERE list_contains(?, stay_id)",
                    [p, sorted(sample)]).fetchone()[0]:
                return p
        raise RuntimeError("no parquet part holds a sampled stay")

    def replace(p, sql):
        saved = p + ".orig"
        shutil.move(p, saved)
        con.execute(f"COPY ({sql.format(src=repr(saved))}) TO {p!r} (FORMAT PARQUET)")
        return lambda: shutil.move(saved, p)

    def corrupt_cell():
        p = part_with_sample()
        first = con.execute(
            "SELECT stay_id, feature_id, tidx FROM read_parquet(?) "
            "WHERE list_contains(?, stay_id) ORDER BY 1, 2, 3 LIMIT 1",
            [p, sorted(sample)]).fetchone()
        return replace(p, "SELECT stay_id, feature_id, tidx, CASE WHEN stay_id = {} AND "
                          "feature_id = {} AND tidx = {} THEN value + 1.5 ELSE value END "
                          "AS value FROM read_parquet({{src}})".format(*first))

    def delete_file():
        p = part_with_sample()
        saved = p + ".orig"
        shutil.move(p, saved)
        return lambda: shutil.move(saved, p)

    def widen_series():
        p = part_with_sample()
        return replace(p, "SELECT stay_id, feature_id, tidx, value FROM read_parquet({src}) "
                          "UNION ALL "
                          "(SELECT stay_id, feature_id, max(tidx) + 1, 0.0 FROM "
                          "read_parquet({src}) GROUP BY 1, 2 ORDER BY 1, 2 LIMIT 1)")

    return [("corrupt one cell", corrupt_cell), ("delete one file", delete_file),
            ("widen one series", widen_series)]


def self_test(out_dir, exp, sample):
    """Corrupt a checked-good output three ways; returns the names of the
    corruptions the checker failed to reject. The output is restored."""
    muts = (_mutations_csv if exp.wl["sink"] == "csv" else _mutations_parquet)(
        out_dir, exp, sample)
    missed = []
    for name, apply in muts:
        undo = apply()
        try:
            if not check(out_dir, exp, sample):
                missed.append(name)
        finally:
            undo()
    return missed
