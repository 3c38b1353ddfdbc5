"""``cdc_sync``: the paper's CDC polling path, end to end.

Inputs (generated from the seed before the session starts):

- a users table of ``N_USERS`` rows in ``USERS_SCHEMA`` (snapshot 0), and
  one users snapshot per backlog batch: the source database as the
  reference's polling loop sees it when that batch is read;
- a backlog of ``BATCHES`` eventlog micro-batches of ``BATCH_EVENTS``
  events (the reference's ``-m`` default). Each event is one of: an
  attribute update (some to ``vorname``, so the ph15 write-through runs), a
  rename, an insert, a delete of a user dropped from the database, an
  invalid event (status F) or an update of a uid that never existed
  (status W). Every batch holds the kinds in the fixed proportions of
  ``MIX``, in a seeded order. Every uid is touched at most once, so each
  event's status and the final state difference can be predicted exactly.

Timed section, one client, closed loop:

1. initial load of snapshot 0 into a ``VersionedState`` for ph08 and ph15
   (the CLI's ``initial_load``: snapshot reconcile per instance, commit);
2. the backlog drained back to back through
   ``CdcStreamDriver.process_batch`` (etl.py:419-423: no sleep while
   behind), each batch's users snapshot refreshed through the driver's
   ``prepare_batch`` seam, until ``--seconds`` have passed (at least one
   batch) or the backlog is empty;
3. read-back: the ``iter`` dump (``dump_tree_stream``) of the final state.

One operation is one micro-batch. Checked after the clock stops: every
event's status against its prediction (a mismatch is a failed event), and
the dump: its entry count, every renamed, inserted and deleted entry, and
every updated attribute in ph08 and, for write-through attributes, ph15.
"""

from __future__ import annotations

import datetime as dt
import os
import random
import time
from dataclasses import dataclass, field

import pyarrow as pa
import pyarrow.parquet as pq

from spans import Result, Tracer, jvm_alive, layer_report, package_modules

N_USERS = 10_000
# A batch takes most of a minute, so a run at the benchmark's run length
# drains one; the smoke test drains the whole tiny backlog.
BATCHES = 3
BATCH_EVENTS = 100
TINY = {"users": 60, "batches": 2, "events": 20}

BASE = "o=BMUKK"
VALID_TABLE = "benutzer_alle_dirxml_v"
# (kind, weight) of the event mix within a batch. The weights are
# placeholders, not measured: no reference eventlog is in the repository to
# derive a mix from. They give every kind the reference's polling loop
# handles a share of each batch.
MIX = [("update", 30), ("update_vorname", 15), ("rename", 10), ("insert", 15),
       ("delete", 10), ("invalid", 12), ("missing", 8)]
UPDATE_FIELDS = ["nachname", "emailadresse_st", "bpk", "org_einheiten"]
WRITETHROUGH = {"vorname", "nachname", "emailadresse_st"}
# users column -> (state attribute, rendered as a list in the dump)
DUMPED_AS = {"vorname": ("givenName", True), "nachname": ("sn", True),
             "emailadresse_st": ("phonlineEmailStudent", False),
             "bpk": ("phonlineBPK", False),
             "org_einheiten": ("phonlineOrgEinheiten", False)}
FIRST = ["Anna", "Ben", "Clara", "David", "Eva", "Felix", "Greta", "Hugo",
         "Ida", "Jonas", "Klara", "Lukas", "Mia", "Noah", "Olga", "Paul"]
LAST = ["Huber", "Bauer", "Gruber", "Wagner", "Pichler", "Moser", "Mayer",
        "Hofer", "Leitner", "Berger", "Fuchs", "Eder", "Schmid", "Wolf"]


def _arrow_schema(spark_schema) -> pa.Schema:
    kinds = {"string": pa.string(), "double": pa.float64(),
             "timestamp": pa.timestamp("us")}
    return pa.schema([(f.name, kinds[f.dataType.typeName()]) for f in spark_schema.fields])


def _dn(cn: str, inst: str) -> str:
    return f"cn={cn},ou=user,ou={inst},{BASE}"


@dataclass
class Batch:
    users_path: str
    events_path: str
    expected: dict[float, str]          # record_id -> predicted status
    absent: set[str] = field(default_factory=set)   # dns gone after the batch
    # dn -> "attr=value" fields its dump line must hold ([] = just present)
    fields: dict[str, list[str]] = field(default_factory=dict)
    inserts: int = 0


@dataclass
class Inputs:
    dir: str
    n_users: int
    users0: str
    batches: list[Batch]


def _user(rng: random.Random, uid: int) -> dict:
    return {
        "pk_uniqueid": float(uid), "benutzername": f"u{uid}",
        "vorname": rng.choice(FIRST), "nachname": rng.choice(LAST),
        "passwort": f"pw-{uid}-{rng.randrange(10**6)}",
        "emailadresse_st": f"u{uid}@stud.example.at",
        "emailadresse_b": f"u{uid}@staff.example.at" if uid % 3 == 0 else None,
        "bpk": f"BPK{uid:08d}", "org_einheiten": rng.choice(["A", "B;A", "C"]),
        "funktionen": rng.choice(["L", "L;V", None]),
        "schulkennzahlen": rng.choice(["901", "901;902", None]),
        "aktiv_st_person": "J  ", "account_status_st": "OK",
        "matrikelnummer": f"{uid:010d}",
        "geburtsdatum": dt.datetime(1970, 1, 1) + dt.timedelta(days=uid % 15000),
        "person_nr": float(uid * 7), "st_person_nr": float(uid * 11),
    }


def _write_users(path: str, users: dict[int, dict], schema: pa.Schema) -> None:
    rows = [users[uid] for uid in sorted(users)]
    cols = {f.name: [r.get(f.name) for r in rows] for f in schema}
    pq.write_table(pa.table(cols, schema=schema), path)


def generate(out_dir: str, seed: int, tiny: bool) -> Inputs:
    from py_etl_spark.schemas import EVENTLOG_SCHEMA, USERS_SCHEMA

    os.makedirs(out_dir)
    rng = random.Random(seed)
    n_users = TINY["users"] if tiny else N_USERS
    n_batches = TINY["batches"] if tiny else BATCHES
    n_events = TINY["events"] if tiny else BATCH_EVENTS
    users_schema = _arrow_schema(USERS_SCHEMA)
    ev_schema = _arrow_schema(EVENTLOG_SCHEMA)
    users = {uid: _user(rng, uid) for uid in range(10_000, 10_000 + n_users)}
    users0 = os.path.join(out_dir, "users_0.parquet")
    _write_users(users0, users, users_schema)

    untouched = sorted(users)
    rng.shuffle(untouched)
    next_uid, missing_uid, record_id = 10_000 + n_users, 900_000, 0
    kinds = [k for k, w in MIX for _ in range(w)]
    t0 = dt.datetime(2024, 3, 1)
    batches = []
    for b in range(n_batches):
        batch = Batch(os.path.join(out_dir, f"users_{b + 1}.parquet"),
                      os.path.join(out_dir, f"events_{b + 1}.parquet"), {})
        # every batch holds each kind in the same proportion (exactly the
        # weights at 100 events), in a seeded order: the seed changes which
        # users and values a batch touches, not how much of each kind it has
        batch_kinds = [kinds[i * len(kinds) // n_events] for i in range(n_events)]
        rng.shuffle(batch_kinds)
        n_updates = n_invalid = 0
        events = []
        for kind in batch_kinds:
            record_id += 1
            if not untouched and kind in ("update", "update_vorname", "rename", "delete"):
                kind = "insert"  # every existing user was touched already
            etype, key, table, status = 6.0, None, VALID_TABLE, "S"
            if kind in ("update", "update_vorname", "rename", "delete"):
                uid = untouched.pop()
                old_cn = users[uid]["benutzername"]
                if kind == "delete":
                    del users[uid]
                    etype = 4.0
                    batch.fields[_dn(old_cn, "ph08")] = ["idnDeleted=True"]
                elif kind == "rename":
                    new_cn = f"r{uid}b{b}"
                    users[uid]["benutzername"] = new_cn
                    batch.absent |= {_dn(old_cn, "ph08"), _dn(old_cn, "ph15")}
                    batch.fields[_dn(new_cn, "ph08")] = []
                    batch.fields[_dn(new_cn, "ph15")] = []
                else:
                    if kind == "update":
                        col = UPDATE_FIELDS[n_updates % len(UPDATE_FIELDS)]
                        n_updates += 1
                    else:
                        col = "vorname"
                    value = users[uid][col] = f"{col[:3]}-{b}-{record_id}"
                    attr, as_list = DUMPED_AS[col]
                    want = f"{attr}={[value]!r}" if as_list else f"{attr}={value}"
                    batch.fields[_dn(old_cn, "ph08")] = [want]
                    if col in WRITETHROUGH:
                        batch.fields[_dn(old_cn, "ph15")] = [want]
            elif kind == "insert":
                uid, next_uid, etype = next_uid, next_uid + 1, 5.0
                users[uid] = _user(rng, uid)
                batch.fields[_dn(users[uid]["benutzername"], "ph08")] = []
                batch.inserts += 1
            elif kind == "missing":
                uid, missing_uid, status = missing_uid, missing_uid + 1, "W"
            else:  # invalid: one of the reference's four validation errors
                uid, status = rng.randrange(10_000, next_uid), "F"
                flaw, n_invalid = n_invalid % 4, n_invalid + 1
                if flaw == 0:
                    etype = 7.0
                elif flaw == 1:
                    key = f"uniqueid={uid}"
                elif flaw == 2:
                    table = "benutzer_sonst_v"
                else:
                    key = f"pk_uniqueid={uid}x"
            batch.expected[float(record_id)] = status
            events.append({
                "record_id": float(record_id),
                "table_key": key or f"pk_uniqueid={uid}",
                "status": "N  ", "event_type": etype,
                "event_time": t0 + dt.timedelta(seconds=record_id),
                "perpetrator": "perfbench", "table_name": table,
                "attempt": 0.0,
            })
        _write_users(batch.users_path, users, users_schema)
        cols = {f.name: [e.get(f.name) for e in events] for f in ev_schema}
        pq.write_table(pa.table(cols, schema=ev_schema), batch.events_path)
        batches.append(batch)
    return Inputs(out_dir, n_users, users0, batches)


def _dir_bytes(path: str) -> int:
    path = path[len("file:"):] if path.startswith("file:") else path
    return sum(os.path.getsize(os.path.join(d, f))
               for d, _, files in os.walk(path) for f in files)


def run(spark, inp: Inputs, seconds: float, tracer: Tracer, cores: int) -> Result:
    from py_etl_spark.functions.crypto import FIXED_TEST_IV_HEX
    from py_etl_spark.operators import compare, refsync
    from py_etl_spark.operators.compare import bootstrap_tree
    from py_etl_spark.schemas import EVENTLOG_SCHEMA, USERS_SCHEMA
    from py_etl_spark.streaming import stream
    from py_etl_spark.streaming.state_store import VersionedState

    mods = package_modules()
    tracer.wrap(stream, "cdc_apply", "refsync.cdc_apply", mods)
    tracer.wrap(refsync, "sync_users_into_state", "refsync.sync_users_into_state", mods)
    for meth in ("read", "commit", "_gc"):
        tracer.wrap(VersionedState, meth, f"state_store.{meth}")

    cfg = refsync.SyncConfig(iv_hex=FIXED_TEST_IV_HEX, batch_ts="20240301000000Z")
    read_users = spark.read.schema(USERS_SCHEMA).parquet
    state_path = os.path.join(inp.dir, "state")
    failed = attempted = 0
    notes: dict = {"users": inp.n_users, "batch_events": len(inp.batches[0].expected)}

    # -- 1. initial load ------------------------------------------------------
    t_work = time.perf_counter()
    with tracer.span("cdc.initial_load") as load_span:
        users0 = read_users(inp.users0)
        state = bootstrap_tree(spark, ["ph08", "ph15"], ["ph08", "ph15"])
        for inst in ("ph08", "ph15"):
            state, _, _, _ = refsync.sync_users_into_state(
                state, refsync.users_to_entries(users0, inst), inst, cfg,
                snapshot=True,
            )
            state = state.localCheckpoint()
        store = VersionedState(spark, state_path)
        store.commit(state, {"action": "initial_load"})
    notes["initial_load_s"] = time.perf_counter() - t_work
    attempted += 1

    # -- 2. drain the backlog ---------------------------------------------------
    def prepare(drv, st, batch_id):
        with tracer.span("stream.prepare_batch"):
            drv.users = read_users(inp.batches[batch_id].users_path)
            return st

    drv = stream.CdcStreamDriver(
        spark, users0, state_path, "ph08", cfg,
        keep_versions=len(inp.batches) + 2, prepare_batch=prepare,
    )
    op_s, op_spans, done, items = [], [], [], 0
    jvm_dead = False
    t_loop = time.perf_counter()
    for b, batch in enumerate(inp.batches):
        if b and time.perf_counter() - t_loop >= seconds:
            break
        events = spark.read.schema(EVENTLOG_SCHEMA).parquet(batch.events_path)
        attempted += len(batch.expected)
        t0 = time.perf_counter()
        try:
            with tracer.span("stream.process_batch") as sp:
                drv.process_batch(events, b)
        except Exception as exc:  # noqa: BLE001 - the batch is lost, run goes on
            failed += len(batch.expected)
            notes.setdefault("errors", []).append(repr(exc)[:300])
            jvm_dead = not jvm_alive()
            if jvm_dead:
                break
            continue
        op_s.append(time.perf_counter() - t0)
        op_spans.append(sp)
        done.append((batch, drv.statuses[-1]))
        items += len(batch.expected)

    # -- 3. read-back -------------------------------------------------------------
    dump_path, n_entries = os.path.join(inp.dir, "dump.txt"), None
    if not jvm_dead:
        attempted += 1
        t0 = time.perf_counter()
        final = drv.read_state()
        with open(dump_path, "w") as out, tracer.span("compare.dump_tree_stream"):
            n_entries = compare.dump_tree_stream(final, BASE, out)
        notes["state_readback_s"] = time.perf_counter() - t0
    work_s = time.perf_counter() - t_work
    notes["batches"] = len(done)

    # -- checks, after the clock stopped ------------------------------------------
    for batch, statuses in done:
        got = {r.record_id: r.status for r in statuses}
        failed += sum(got.get(rid) != st for rid, st in batch.expected.items())
    checked = n_entries is not None and _check_dump(
        dump_path, n_entries, inp.n_users, [b for b, _ in done], notes)
    failed += n_entries is not None and not checked

    layers: dict = {}
    if tracer.enabled and op_spans:
        layers = layer_report(tracer, op_spans, spark.sparkContext, cores)
        load_spans = tracer.within(load_span)
        layers["refsync.sync_users_into_state_s"] = sum(
            sp.end - sp.start for sp in load_spans
            if sp.name == "refsync.sync_users_into_state")
        statuses = [r.status for batch in drv.statuses for r in batch]
        for st in "SWEF":  # per batch, like every other per-layer number
            layers[f"refsync.status_{st}"] = statuses.count(st) / len(done)
        layers["refsync.useful_frac"] = statuses.count("S") / max(len(statuses), 1)
        # every commit rewrites the whole state: one version per drained batch
        sizes = [_dir_bytes(store._data_path(v)) / len(b.expected)
                 for v, (b, _) in zip(store.versions()[-len(done):], done)]
        layers["state_store.bytes_written_per_event"] = sum(sizes) / len(sizes)
        layers["compare.dump_tree_stream_s"] = notes["state_readback_s"]
    return Result(op_s, items, work_s, attempted, failed, checked, notes, layers)


def _check_dump(path: str, n_entries: int, n_users: int, done: list[Batch],
                notes: dict) -> bool:
    """The final state as the ``iter`` dump shows it, against the
    generator's prediction for the batches that ran."""
    with open(path) as fh:
        lines = {ln.split(" ", 1)[0]: ln for ln in fh if ln.startswith(("cn=", "ou=", "o="))}
    want_entries = 9 + 2 * n_users + sum(b.inserts for b in done)
    wrong = [dn for b in done for dn in b.absent if dn in lines]
    for b in done:
        for dn, fields in b.fields.items():
            line = lines.get(dn)
            if line is None or any(f" {f} " not in line for f in fields):
                wrong.append(dn)
    if n_entries == want_entries == len(lines) and not wrong:
        return True
    notes["check"] = {"entries": [n_entries, len(lines), want_entries],
                      "wrong": wrong[:5], "n_wrong": len(wrong)}
    return False
