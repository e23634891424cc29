"""Seeded MIMIC-shaped input generator for the ETL benchmark.

Writes `{out}/icu/{icustays,d_items,chartevents,inputevents,outputevents,
procedureevents}.csv` with the column order of `graft.schemas.MimicSchemas`
(FIXTURES.md).

The traffic shape is the program's own synthetic corpus, `graft.cli.
GenFixtures`, which the repo's earlier end-to-end timings (BASELINE.md) and
ROADMAP D3 use; that generator takes no seed, so this one redraws the same
distributions from one:

  - stay length: 1 h + uniform [0, 9 d); `intime` uniform over 30 days;
  - events per stay: a fixed `per_stay` chartevents, `per_stay / 4`
    inputevents and outputevents, `per_stay / 8` procedureevents;
  - features: 200 item ids (220000..220199), drawn uniformly per event,
    shared by all sources and all listed in `d_items`;
  - event times uniform inside the stay; `valuenum` null for 1 row in 33;
  - intervals: inputevents up to 6 h, procedureevents up to 12 h, uniform,
    ending no later than `outtime`; values uniform 0.00..99.99, patient
    weight 50..119 kg.

Stay lengths are fixed uniform quantiles that the seed only deals out to
stays, so every seed carries the same windows and events; the seed moves
times, items and values.

On top of that, the edge cases FIXTURES.md asks for are present in small
fixed shares, so each of their paths runs in every workload: a stay in ten
is a whole number of days long (an exact multiple of every timestep), 2% of
events fall before `intime` (clamped to window 0) and 2% after `outtime`
(dropped), 5% of intervals have `starttime == endtime`, and a stay in twenty
has no events for a source (header-only dummy matrices). GenFixtures has
none of these.

The same (workload, seed) always gives byte-identical files.
"""

import hashlib
import json
import os
import random
import shutil
import time

BASE_EPOCH = 1577836800  # 2020-01-01 00:00:00 UTC
ITEMS = [220000 + k for k in range(200)]
# events per stay of each source, as a share of `per_stay` chartevents
PER_STAY_SHARE = {"chartevents": 1.0, "inputevents": 0.25, "outputevents": 0.25,
                  "procedureevents": 0.125}
MAX_INTERVAL_S = {"inputevents": 6 * 3600, "procedureevents": 12 * 3600}

ICUSTAYS_COLS = ("subject_id,hadm_id,stay_id,first_careunit,last_careunit,"
                 "intime,outtime,los")
D_ITEMS_COLS = ("itemid,label,abbreviation,linksto,category,unitname,"
                "param_type,lownormalvalue,highnormalvalue")
CHART_COLS = ("subject_id,hadm_id,stay_id,charttime,storetime,itemid,value,"
              "valuenum,valueuom,warning")
INPUT_COLS = ("subject_id,hadm_id,stay_id,starttime,endtime,storetime,itemid,"
              "amount,amountuom,rate,rateuom,orderid,linkorderid,"
              "ordercategoryname,secondaryordercategoryname,"
              "ordercomponenttypedescription,ordercategorydescription,"
              "patientweight,totalamount,totalamountuom,isopenbag,"
              "continueinnextdept,cancelreason,statusdescription,"
              "originalamount,originalrate")
OUTPUT_COLS = ("subject_id,hadm_id,stay_id,charttime,storetime,itemid,value,"
               "valueuom")
PROC_COLS = ("subject_id,hadm_id,stay_id,starttime,endtime,storetime,itemid,"
             "value,valueuom,location,locationcategory,orderid,linkorderid,"
             "ordercategoryname,ordercategorydescription,patientweight,"
             "isopenbag,continueinnextdept,statusdescription,originalamount,"
             "originalrate")


def ts(epoch):
    return time.strftime("%Y-%m-%d %H:%M:%S", time.gmtime(epoch))


def generate(out_dir, wl, seed):
    """Write the inputs of workload `wl` (a dict from run.WORKLOADS) for
    `seed` into `out_dir`; returns the meta dict (also written as meta.json).
    """
    rng = random.Random(f"{wl['name']}:{seed}")
    n, per_stay = wl["stays"], wl["per_stay"]

    # stay lengths: uniform quantiles of 1 h + [0, 9 d), every tenth rounded
    # to a whole number of days; the seed only decides which stay gets which
    durs = [3600 + (9 * 86400 * (2 * i + 1)) // (2 * n) for i in range(n)]
    durs = [max(86400, round(d / 86400) * 86400) if i % 10 == 5 else d
            for i, d in enumerate(durs)]
    rng.shuffle(durs)
    stays = []
    for i, d in enumerate(durs):
        sid = 30000000 + 7 * i + rng.randrange(7)
        intime = BASE_EPOCH + rng.randrange(30 * 86400)
        stays.append((sid, intime, intime + d))

    icu = os.path.join(out_dir, "icu")
    os.makedirs(icu)

    def write(name, header, rows):
        with open(os.path.join(icu, name), "w") as f:
            f.write(header + "\n")
            f.writelines(rows)

    write("icustays.csv", ICUSTAYS_COLS, [
        f"{sid - 20000000},{sid - 10000000},{sid},MICU,MICU,{ts(i)},{ts(o)},"
        f"{(o - i) / 86400.0:.4f}\n" for sid, i, o in stays])
    write("d_items.csv", D_ITEMS_COLS, [
        f"{it},item{it},ab,chartevents,vitals,u,Numeric,,\n" for it in ITEMS])

    def events(src):
        """(stay, intime, outtime, event time, item) for every event of a
        source; a stay in twenty (a different one per source) has none."""
        k = max(1, int(per_stay * PER_STAY_SHARE[src]))
        skip = list(PER_STAY_SHARE).index(src)
        out = []
        for j, (sid, i, o) in enumerate(stays):
            if j % 20 == skip:
                continue
            for _ in range(k):
                u = rng.random()
                if u < 0.02:
                    t = i - rng.randrange(1, 6 * 3600)
                elif u < 0.04:
                    t = o + rng.randrange(1, 6 * 3600)
                else:
                    t = i + rng.randrange(o - i)
                out.append((sid, i, o, t, rng.choice(ITEMS)))
        return out

    def value():
        return rng.randrange(10000) / 100.0

    def end_of(src, t, o):
        if rng.random() < 0.05:
            return t
        return max(t, min(t + rng.randrange(MAX_INTERVAL_S[src]), o))

    event_rows = {}
    sources = wl["sources"]
    if "chartevents" in sources:
        rows = []
        for sid, _, _, t, it in events("chartevents"):
            v = value()
            vnum = "" if rng.randrange(33) == 0 else repr(v)
            rows.append(f"{sid - 20000000},{sid - 10000000},{sid},{ts(t)},"
                        f"{ts(t + 60)},{it},{v},{vnum},u,0\n")
        write("chartevents.csv", CHART_COLS, rows)
        event_rows["chartevents"] = len(rows)
    if "outputevents" in sources:
        rows = [f"{sid - 20000000},{sid - 10000000},{sid},{ts(t)},{ts(t + 60)},"
                f"{it},{value()},mL\n" for sid, _, _, t, it in events("outputevents")]
        write("outputevents.csv", OUTPUT_COLS, rows)
        event_rows["outputevents"] = len(rows)
    if "inputevents" in sources:
        rows = []
        weight = {sid: 50 + rng.randrange(70) for sid, _, _ in stays}
        for j, (sid, _, o, t, it) in enumerate(events("inputevents")):
            amt = value()
            rows.append(
                f"{sid - 20000000},{sid - 10000000},{sid},{ts(t)},"
                f"{ts(end_of('inputevents', t, o))},{ts(t + 60)},{it},{amt},mL,"
                f"1.0,mL/hour,{j},{j},Fluids,,Main,Continuous,{weight[sid]}.0,"
                f"100.0,mL,0,0,0,FinishedRunning,{amt},1.0\n")
        write("inputevents.csv", INPUT_COLS, rows)
        event_rows["inputevents"] = len(rows)
    if "procedureevents" in sources:
        rows = []
        for j, (sid, _, o, t, it) in enumerate(events("procedureevents")):
            v = value()
            rows.append(
                f"{sid - 20000000},{sid - 10000000},{sid},{ts(t)},"
                f"{ts(end_of('procedureevents', t, o))},{ts(t + 60)},{it},{v},"
                f"min,,,{j},{j},Ventilation,Continuous,70.0,0,0,"
                f"FinishedRunning,{v},\n")
        write("procedureevents.csv", PROC_COLS, rows)
        event_rows["procedureevents"] = len(rows)

    meta = {"workload": wl["name"], "seed": seed, "stays": n,
            "event_rows": event_rows}
    with open(os.path.join(out_dir, "meta.json"), "w") as f:
        json.dump(meta, f)
    return meta


def cached(root, wl, seed):
    """Inputs for (workload, seed) under `root`, generated once. The
    directory name also carries a hash of the workload definition and of
    this file, so a changed generator never serves stale inputs."""
    h = hashlib.sha256(json.dumps(wl, sort_keys=True).encode())
    with open(__file__, "rb") as f:
        h.update(f.read())
    out = os.path.join(root, f"{wl['name']}-s{seed}-{h.hexdigest()[:10]}")
    if not os.path.exists(os.path.join(out, "meta.json")):
        tmp = out + f".tmp{os.getpid()}"
        shutil.rmtree(tmp, ignore_errors=True)
        os.makedirs(tmp)
        generate(tmp, wl, seed)
        shutil.rmtree(out, ignore_errors=True)
        os.rename(tmp, out)
    return out
