"""Seeded input generators for the benchmark workloads.

Every generator is a pure function of its seed and size: the same seed gives
byte-identical files, and each returns the counts the program must produce
from them (the output checks in ``workloads`` compare against these).
Nothing here imports Spark; the program under test only ever sees files.
"""

from __future__ import annotations

import csv
import datetime as dt
import json
import os
import random

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

GV = "group_vessel_data"
FORM_ECAS = "FISHERIES eCAS DATA"
FORM_2024 = "FieldDataApp-2024"
FORM_2024A = "FieldDataApp-2024A"
FORM_2023F = "FieldDataApp-2023F"
FORM_SSF = "Malawi SSF"
FORMS = (FORM_ECAS, FORM_2024, FORM_2024A, FORM_2023F, FORM_SSF)

# Per-form gear-effort fields, exactly as each pinned form schema ships them
# (sources.form_schemas): group_gear extras and gear_data fields.
_EFFORT = {
    FORM_ECAS: [f"{GV}/group_gear/{n}" for n in (
        "mosquito_effort_sets", "longline_effort_hooks", "longline_effort_hrs",
        "fish_trap_effort_hauls", "handline_effort_hooks",
        "handline_effort_hrs", "kambuzi_effort_sets",
        "chilimira_effort_hauls")],
    FORM_2024: [f"{GV}/group_gear/{n}" for n in (
        "chilimira_hauls", "chilimira_effort", "chikwekwesa_effort")]
    + [f"{GV}/gear_data/{n}" for n in ("longline_effort", "other_gear_effort")],
    FORM_2024A: [f"{GV}/group_gear/{n}" for n in (
        "chilimira_hauls", "fish_trap_effort", "chikwekwesa_effort")],
    FORM_2023F: [f"{GV}/group_gear/{n}" for n in (
        "chilimira_hauls", "chilimira_effort", "chikwekwesa_effort",
        "wogo_effort", "fish_trap_effort")]
    + [f"{GV}/gear_data/{n}" for n in (
        "mosquito_effort", "longline_effort", "handline_effort",
        "kambuzi_seine_effort", "other_gear_effort")],
    FORM_SSF: ["vessels/chilimira_hauls"],
}

TAXA = ("Usipa", "Chambo", "Kampango", "Utaka", "Ndunduma", "Mlamba")
GEARS = ("Gillnet", "Chilimira", "Longline", "Handline", "Fish Trap",
         "Kambuzi seine", "Mosquito net", "Chikwekwesa")
DISTRICTS = ("Mangochi", "Salima", "Nkhotakota", "Nkhata Bay", "Karonga")
VESSEL_TYPES = ("B+E", "B-E", "Dugout Canoe", "Plunked Canoe")
DAY0 = dt.date(2024, 1, 1)
N_DAYS = 90
BUCKET_S = 600


def _digits(rng: random.Random, n: int) -> str:
    """``n`` random digits with a non-zero lead (IMEI suffixes are parsed as
    numbers by validate, so a leading zero would shorten them)."""
    return str(rng.randint(1, 9)) + "".join(
        str(rng.randint(0, 9)) for _ in range(n - 1))


def _device_registry(rng: random.Random, n_tracked: int, n_twins: int):
    """Registry rows plus the reported-IMEI pools.

    Tracked devices carry unique 8-digit suffixes (a reported suffix matches
    exactly one device). Twin pairs share their last 9 digits, so a 7-digit
    report is ambiguous. Unknown reports are 8-digit strings that are no
    registry value's suffix.
    """
    imeis: list[str] = []
    seen_sfx: set[str] = set()
    while len(imeis) < n_tracked:
        imei = "86" + _digits(rng, 13)
        if imei[-8] != "0" and imei[-8:] not in seen_sfx:
            seen_sfx.add(imei[-8:])
            imeis.append(imei)
    twins = []
    for _ in range(n_twins):
        shared = _digits(rng, 9)
        twins.append(("861" + _digits(rng, 3) + shared,
                      "862" + _digits(rng, 3) + shared))
    registry = imeis + [i for pair in twins for i in pair]
    unknown = []
    while len(unknown) < 50:
        cand = _digits(rng, 8)
        if not any(r.endswith(cand) for r in registry):
            unknown.append(cand)
    rows = [{"IMEI": imei, "device_id": f"d{n}", "boat_name": f"boat{n}",
             "community": DISTRICTS[n % len(DISTRICTS)], "status": "active"}
            for n, imei in enumerate(registry)]
    return rows, imeis, [t[0][-7:] for t in twins], unknown


def _catch(form: str, rng: random.Random, price_outlier: bool) -> dict:
    kg = round(rng.uniform(2.0, 20.0), 1)
    per_kg = rng.uniform(900.0, 1500.0)
    if price_outlier:
        per_kg = 600000.0
    total = rng.random() < 0.5
    fields = {
        "fish_species": rng.choice(TAXA),
        "weight_type": "total",
        "value_species": str(round(per_kg * kg if total else per_kg, 0)),
        "value_type": "total" if total else "per_kg",
        "catch_use": "sell",
    }
    if form == FORM_SSF:
        fields["weight"] = str(kg)
        return {f"vessels/group_species/{k}": v for k, v in fields.items()}
    fields["weight" if form == FORM_ECAS else "weight_kg"] = str(kg)
    return fields


def _vessel(form: str, rng: random.Random, imei: str | None, gear: str,
            n_catches: int, crew: str, price_outliers: int) -> dict:
    ssf = form == FORM_SSF
    pre = "vessels/" if ssf else f"{GV}/group_vessel/"
    gpre = "vessels/" if ssf else f"{GV}/group_gear/"
    v = {f"{pre}vessel_type": rng.choice(VESSEL_TYPES),
         f"{pre}crew_number": crew,
         f"{pre}crew_female": str(rng.randint(0, 2)),
         f"{pre}hours_fished": str(rng.randint(2, 10)),
         f"{gpre}gear_type": gear}
    if imei is not None:
        v[f"{pre}imei_number"] = imei
    if ssf:
        v["vessels/gear_mesh_size"] = "25"
        v["vessels/gear_depth"] = str(rng.randint(3, 20))
        v["vessels/trader_sex"] = rng.choice(("male", "female"))
    else:
        metric = form != FORM_ECAS
        v[f"{gpre}{'gear_mesh_size_mm' if metric else 'gear_mesh_size'}"] = "30"
        v[f"{gpre}{'gear_depth_m' if metric else 'gear_depth'}"] = \
            str(rng.randint(3, 20))
        if metric:
            v[f"{GV}/market/buyer_sex"] = rng.choice(("male", "female"))
            v[f"{GV}/market/trans"] = str(rng.randint(1, 4))
            v[f"{GV}/market/dest"] = "local market"
        else:
            v[f"{GV}/group_trade/trader_sex"] = rng.choice(("male", "female"))
    for f in _EFFORT[form]:
        v[f] = str(rng.randint(1, 12))
    if gear == "Gillnet":
        net = ({"net_type": "a", "gillnet_mesh": "25", "gillnet_length": "100"}
               if ssf or form == FORM_ECAS else
               {"net_type": "a", "gillnet_mesh_mm": "30",
                "gillnet_length_m": "120"})
        v[("vessels/" if ssf else f"{GV}/") + "group_gillnets"] = [net]
    catches = [_catch(form, rng, i < price_outliers) for i in range(n_catches)]
    v["vessels/fish_repeat" if ssf else f"{GV}/group_catch"] = catches
    return v


def _submission(form: str, sub_id: int, landing: dt.date, today: dt.date,
                n_boats: str, vessels: list[dict], rng: random.Random) -> dict:
    ssf = form == FORM_SSF
    d = DISTRICTS[sub_id % len(DISTRICTS)]
    s = {"_id": sub_id, "today": today.isoformat(),
         f"group_location/{'date_of_landing' if ssf else 'landing_date'}":
             landing.isoformat(),
         "group_location/sample_district": d,
         "group_location/landing_beach": f"{d} beach {sub_id % 7}",
         "group_location/sample_stratum": "A",
         "group_location/sample_day": str(rng.randint(1, 3)),
         f"group_location/{'gps_location_001' if ssf else 'gps_location'}":
             f"-13.{rng.randint(10, 99)} 34.{rng.randint(10, 99)} 470 4",
         ("fishing" if ssf else "fishing_today"): "yes" if vessels else "no",
         ("total_landings" if ssf else "n_vessels"): n_boats}
    if not vessels:
        s["why_not" if ssf else "why_not_fishing"] = "wind"
    s["vessels" if ssf else GV] = vessels
    return s


def landings(dirpath: str, seed: int, n_submissions: int,
             n_matched: int) -> dict:
    """Land the paper's input zone under ``dirpath``: one JSON-lines file per
    pinned Kobo form, ``trips.csv``, ``points.csv`` and ``devices.csv``.

    Planted cases, each with a known effect on the stage outputs:
    - date outliers (landing after submission, landing before the 2020-12-31
      floor), crew outliers (negative, far above the fit), boat-count
      outliers and price-per-kg outliers: each alerts every row it touches;
    - short, ambiguous and unknown IMEI reports: never merge;
    - ``n_matched`` vessels whose (civil day, IMEI) pair is unique on both
      the landings and the trips side: exactly these merge, and their GPS
      points roll up to a known number of 10-minute buckets;
    - near-misses that must not merge: a device landing twice on one day, a
      device with two trips on one day, a landing with no trip;
    - malformed JSON lines, absorbed by the reader.
    """
    rng = random.Random(seed)
    os.makedirs(dirpath, exist_ok=True)
    n_tracked = n_matched + 40
    devices, tracked, ambiguous, unknown = _device_registry(
        rng, n_tracked, n_twins=10)
    # (day, device) slots: unique pairs for the planted matches, then the
    # near-miss devices (kept disjoint so no near-miss collides a match)
    matched_dev = tracked[:n_matched]
    miss_dev = tracked[n_matched:]
    match_days = [rng.randrange(N_DAYS) for _ in matched_dev]

    expect = {"rows": 0, "alert_rows": 0, "merged": 0, "track_buckets": 0,
              "submissions": n_submissions, "corrupt_lines": 0}
    files = {f: open(os.path.join(dirpath, f"{f}.jsonl"), "w") for f in FORMS}
    trips: list[tuple] = []
    special: list[tuple[str, str, int, str]] = []
    for i, dev in enumerate(matched_dev):
        special.append(("match", dev, match_days[i], dev[-8:]))
    for j, dev in enumerate(miss_dev):
        kind = ("double_landing", "double_trip", "no_trip")[j % 3]
        special.append((kind, dev, rng.randrange(N_DAYS), dev[-8:]))
    # the double landing needs a second vessel on the same (day, device)
    special += [("double_landing_2", s[1], s[2], s[3])
                for s in special if s[0] == "double_landing"]
    rng.shuffle(special)
    if len(special) > n_submissions:
        raise ValueError("n_submissions too small for the planted matches")
    special_at = {k: s for k, s in zip(
        rng.sample(range(n_submissions), len(special)), special)}

    trip_id = 1000
    for sub in range(n_submissions):
        form = FORMS[sub % len(FORMS)]
        sub_id = 10_000 + sub
        spec = special_at.get(sub)
        if spec is not None:
            landing = DAY0 + dt.timedelta(days=spec[2])
            today = landing + dt.timedelta(days=rng.randint(0, 2))
            vessels = [_vessel(form, rng, spec[3], rng.choice(GEARS), 1,
                               str(rng.randint(2, 8)), 0)]
            n_boats = str(rng.randint(5, 30))
            subm = _submission(form, sub_id, landing, today, n_boats,
                               vessels, rng)
            expect["rows"] += 1
            kind, dev = spec[0], spec[1]
            if kind in ("match", "double_trip", "double_landing"):
                trips.append((trip_id, dev, landing,
                              kind == "match" and rng.random() < 0.2))
                trip_id += 1
            if kind == "double_trip":
                trips.append((trip_id, dev, landing, False))
                trip_id += 1
        else:
            landing = DAY0 + dt.timedelta(days=rng.randrange(N_DAYS))
            today = landing + dt.timedelta(days=rng.randint(0, 2))
            date_alert = False
            r = rng.random()
            if r < 0.02:
                landing, date_alert = today + dt.timedelta(days=3), True
            elif r < 0.03:
                landing, date_alert = dt.date(2019, 6, 1), True
            boats_alert = rng.random() < 0.01
            n_boats = "5000" if boats_alert else str(rng.randint(5, 30))
            n_vessels = 0 if rng.random() < 0.05 else rng.randint(1, 3)
            vessels = []
            sub_rows = sub_alert_rows = 0
            for _ in range(n_vessels):
                r = rng.random()
                imei = (None if r < 0.2 else
                        str(rng.randint(10, 9999)) if r < 0.4 else
                        rng.choice(ambiguous) if r < 0.6 else
                        rng.choice(unknown))
                crew_alert = rng.random() < 0.02
                crew = (rng.choice(("-2", "60")) if crew_alert
                        else str(rng.randint(2, 8)))
                n_catches = 0 if rng.random() < 0.05 else rng.randint(1, 3)
                n_price = 1 if n_catches and rng.random() < 0.02 else 0
                vessels.append(_vessel(form, rng, imei, rng.choice(GEARS),
                                       n_catches, crew, n_price))
                v_rows = max(n_catches, 1)
                sub_rows += v_rows
                sub_alert_rows += v_rows if crew_alert else n_price
            if not vessels:
                sub_rows = 1
            expect["rows"] += sub_rows
            expect["alert_rows"] += (sub_rows if date_alert or boats_alert
                                     else sub_alert_rows)
            subm = _submission(form, sub_id, landing, today, n_boats,
                               vessels, rng)
        files[form].write(json.dumps(subm) + "\n")
        if rng.random() < 0.005:
            files[form].write('{"_id": 1, "today": "2024-01-0\n')
            expect["corrupt_lines"] += 1
    for fh in files.values():
        fh.close()

    # trips end on the landing's civil day in Africa/Blantyre (UTC+2); some
    # end after 22:00 UTC on the previous UTC day, which is the same civil day
    with open(os.path.join(dirpath, "trips.csv"), "w", newline="") as fh, \
            open(os.path.join(dirpath, "points.csv"), "w", newline="") as ph:
        tw, pw = csv.writer(fh), csv.writer(ph)
        tw.writerow(["Trip", "IMEI", "Device", "Boat", "Community", "Started",
                     "Ended", "Duration (Seconds)", "Range (Meters)",
                     "Distance (Meters)", "Last Seen", "Tags"])
        pw.writerow(["Trip", "Time", "Lat", "Lng", "Speed (M/S)",
                     "Range (Meters)", "Heading", "Boat", "Boat Name",
                     "Community"])
        matched = set(matched_dev)
        seen: dict[tuple, int] = {}
        for tid, dev, day, late in trips:
            seen[(dev, day)] = seen.get((dev, day), 0) + 1
        for n, (tid, dev, day, late) in enumerate(sorted(trips)):
            base = dt.datetime.combine(day, dt.time())
            if late:
                end = base - dt.timedelta(minutes=rng.randint(5, 110))
            else:
                end = base + dt.timedelta(hours=rng.randint(6, 14),
                                          minutes=rng.randint(0, 59))
            start = end - dt.timedelta(minutes=rng.randint(120, 360))
            fmt = "%Y-%m-%d %H:%M:%S"
            dur = int((end - start).total_seconds())
            tw.writerow([tid, dev, f"dev{n}", f"B{n}", "C", start.strftime(fmt),
                         end.strftime(fmt), dur, "1000.0", "5000.0",
                         end.strftime(fmt), ""])
            buckets = set()
            t = start
            while t <= end:
                pw.writerow([tid, t.strftime(fmt),
                             f"{-13.5 + rng.random() / 10:.5f}",
                             f"{34.5 + rng.random() / 10:.5f}", "2.0",
                             "10.0", "90.0", f"B{n}", f"boat{n}", "C"])
                buckets.add(int((t - dt.datetime(1970, 1, 1))
                                .total_seconds()) // BUCKET_S)
                t += dt.timedelta(seconds=rng.randint(60, 180))
            if seen[(dev, day)] == 1 and dev in matched:
                expect["merged"] += 1
                expect["track_buckets"] += len(buckets)

    with open(os.path.join(dirpath, "devices.csv"), "w", newline="") as fh:
        w = csv.DictWriter(fh, fieldnames=list(devices[0]))
        w.writeheader()
        w.writerows(devices)
    expect["trips"] = len(trips)
    return expect


def _vocab(rng: np.random.Generator, n: int = 20_000) -> np.ndarray:
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    lens = rng.integers(3, 9, size=n)
    return np.array(["".join(rng.choice(letters, size=k)) for k in lens])


def corpus(dirpath: str, seed: int, n_docs: int, n_dup_pairs: int,
           n_junk: int, dim: int, n_clusters: int, n_queries: int) -> dict:
    """A JSON-lines corpus ``{doc_id, text}`` with planted near-duplicates,
    plus a parquet file of per-document embeddings ``(doc_id, embedding)``
    and a held-out query set.

    ``n_dup_pairs`` documents get a copy with a few words substituted
    (word-3-shingle Jaccard about 0.6-0.9, so MinHash-LSH finds most but, by
    design, not all of them) and a nearly identical embedding; ``n_junk``
    short or symbol-heavy documents fail the quality gate. Embeddings are
    clustered Gaussians; queries are drawn around the same cluster centres.
    """
    rng = np.random.default_rng(seed)
    vocab = _vocab(rng)
    stop = np.array(["the", "and", "of", "to", "with", "that", "have", "be"])
    docs: list[str] = []
    for _ in range(n_docs):
        n = int(rng.integers(80, 160))
        words = vocab[rng.integers(0, len(vocab), size=n)]
        mask = rng.random(n) < 0.15
        # the quality gate wants at least two stop words; a short document
        # drawn with fewer would fail it by chance
        mask[:2] = True
        words[mask] = stop[rng.integers(0, len(stop), size=int(mask.sum()))]
        docs.append(" ".join(words))
    centers = rng.normal(0.0, 1.0, size=(n_clusters, dim))
    emb = list(centers[rng.integers(0, n_clusters, size=n_docs)]
               + rng.normal(0.0, 0.35, size=(n_docs, dim)))
    src = rng.choice(n_docs, size=n_dup_pairs, replace=False)
    pairs = []
    for s in src:
        words = docs[s].split(" ")
        n_sub = int(rng.integers(2, 9))
        for pos in rng.choice(len(words), size=n_sub, replace=False):
            words[pos] = vocab[rng.integers(0, len(vocab))]
        docs.append(" ".join(words))
        emb.append(emb[s] + rng.normal(0.0, 0.01, size=dim))
        pairs.append((int(s), len(docs) - 1))
    n_good = len(docs)
    for k in range(n_junk):
        docs.append("buy now ### ... ###" if k % 2 else
                    " ".join(vocab[rng.integers(0, len(vocab), size=10)]))
        emb.append(centers[k % n_clusters] + rng.normal(0.0, 0.35, size=dim))
    order = rng.permutation(len(docs))
    new_id = np.empty(len(docs), dtype=np.int64)
    new_id[order] = np.arange(len(docs))
    os.makedirs(dirpath, exist_ok=True)
    with open(os.path.join(dirpath, "corpus.jsonl"), "w") as fh:
        for old in order:
            fh.write(json.dumps({"doc_id": int(new_id[old]),
                                 "text": docs[old]}) + "\n")
    X = np.round(np.asarray(emb)[order], 4)
    pq.write_table(pa.table({
        "doc_id": pa.array(np.arange(len(docs), dtype=np.int64)),
        "embedding": pa.array(list(X), type=pa.list_(pa.float64()))}),
        os.path.join(dirpath, "embeddings.parquet"))
    Q = np.round(centers[rng.integers(0, n_clusters, size=n_queries)]
                 + rng.normal(0.0, 0.35, size=(n_queries, dim)), 4)
    planted = sorted((min(int(new_id[a]), int(new_id[b])),
                      max(int(new_id[a]), int(new_id[b]))) for a, b in pairs)
    return {"docs": len(docs), "passing": n_good, "junk": n_junk,
            "planted_pairs": planted, "embeddings": X, "queries": Q}


def exact_topk(X: np.ndarray, ids: list[int], Q: np.ndarray,
               k: int) -> list[list[int]]:
    """Exact top-``k`` ids among ``ids`` for each query row of ``Q``:
    squared L2 over the integer micro-units the index quantizes to, ties
    broken by id — the ground truth for recall."""
    ids_arr = np.asarray(sorted(ids), dtype=np.int64)
    Xm = np.floor(X[ids_arr] * 1e6).astype(np.int64)
    out = []
    for q in np.floor(Q * 1e6).astype(np.int64):
        d = ((Xm - q).astype(np.float64) ** 2).sum(axis=1)
        out.append(ids_arr[np.lexsort((ids_arr, d))[:k]].tolist())
    return out
