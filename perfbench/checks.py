"""Output checks for the benchmark, computed apart from the program.

Ingest: the landed warehouse and catalog are read with pyarrow and compared
with the generator's own bookkeeping (manifest.json). Query sweep: each
listed query's written result is compared with DuckDB through the repo's
oracle tool. Every check returns a list of problems; empty means correct.
"""
import os
import re
import subprocess
import sys

import pyarrow.compute as pc
import pyarrow.dataset as ds

UPLOADED = "uploaded to warehouse"
# what the two kept sniff faults end in (see README)
FAULT_STATUS = "rename error"


def _read(path):
    if not os.path.isdir(path):
        return None
    return ds.dataset(path, format="parquet").to_table()


def ingest(manifest, result):
    problems = []
    wh, cat = result["warehouse"], result["catalog"]
    files = {f["name"]: f for f in manifest["files"]}
    status_log = _read(os.path.join(cat, "processed_files"))
    if status_log is None:
        return ["catalog has no status log"]
    statuses = {}
    for name, st in zip(status_log["file_name"].to_pylist(), status_log["status"].to_pylist()):
        statuses.setdefault(name, set()).add(st)
    landed = set()
    for name in sorted(files):
        f, st = files[name], statuses.get(name, set())
        if UPLOADED in st:
            landed.add(name)
        elif f["expect"].startswith("fault_") and st == {FAULT_STATUS}:
            pass  # a kept sniff fault, counted as failed
        else:
            problems.append(f"{name}: status {sorted(st)} (expected {f['expect']})")
    inserted = {o["name"]: o["rows"] for o in result["ops"]}
    for name in landed:
        if files[name]["expect"] == "redelivery" and inserted.get(name):
            problems.append(f"{name}: re-delivery landed {inserted[name]} rows")
    if result["final_batch_rows"]:
        problems.append(f"final runBatch landed rows: {result['final_batch_rows']}")

    wm_log = _read(os.path.join(cat, "watermarks"))
    for t in manifest["tables"]:
        name, cols, roles = t["name"], t["cols"], t["roles"]
        tfiles = [files[n] for n in landed if files[n]["table"] == name]
        want_keys = set().union(*[set(f["keys"]) for f in tfiles]) if tfiles else set()
        table = _read(os.path.join(wh, name))
        if table is None:
            if want_keys:
                problems.append(f"{name}: no warehouse table, {len(want_keys)} keys expected")
            continue
        keys = table[cols[0]].to_pylist()
        if set(keys) != want_keys:
            problems.append(f"{name}: landed keys differ: {len(set(keys) - want_keys)} extra, "
                            f"{len(want_keys - set(keys))} missing")
        if len(keys) != len(set(keys)):
            problems.append(f"{name}: {len(keys) - len(set(keys))} duplicate keys landed")
        n = table.num_rows
        ids = sorted(table["id"].to_pylist())
        if ids != list(range(1, n + 1)):
            problems.append(f"{name}: ids are not exactly 1..{n}")
        if len(pc.unique(table["row_hash"])) != n:
            problems.append(f"{name}: row_hash not unique")
        wm = 0
        if wm_log is not None:
            sel = [v for tn, v in zip(wm_log["table_name"].to_pylist(),
                                      wm_log["last_id"].to_pylist()) if tn == name]
            wm = max(sel) if sel else 0
        if wm != n:
            problems.append(f"{name}: watermark {wm} != {n} rows")
        want_nulls = [sum(f["new_nulls"][i] for f in tfiles) for i in range(len(cols))]
        for i, (c, role) in enumerate(zip(cols, roles)):
            got = table[c].null_count
            if got != want_nulls[i]:
                problems.append(f"{name}.{c} ({role}): {got} nulls, generator counted "
                                f"{want_nulls[i]} junk/empty/nan/<NA>")
    return problems


def oracle(root, data_dir, out_dir, expected):
    tool = os.path.join(root, "tools", "check_oracle.py")
    p = subprocess.run([sys.executable, tool, data_dir, out_dir, "--subset"],
                       capture_output=True, text=True, timeout=120)
    m = re.search(r"== (\d+) pass / (\d+) fail", p.stdout)
    if not m:
        return [f"oracle tool gave no summary: {p.stdout[-300:]} {p.stderr[-300:]}"]
    fails = [l for l in p.stdout.splitlines() if l.startswith("FAIL")]
    problems = fails[:5]
    if int(m.group(1)) != expected or int(m.group(2)):
        problems.append(f"oracle: {m.group(1)} pass / {m.group(2)} fail of {expected}")
    return problems
