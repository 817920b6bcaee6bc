#!/usr/bin/env python3
"""Seeded raw-session corpus for the pipeline_publish workload.

Writes neotree-style session exports (one JSON document per line) into
OUT/corpus/part-NNNNN.jsonl and records what it planted in
OUT/manifest.json. The same --seed always writes the same bytes.

Planted shapes: both entries shapes (legacy list, new dict), admission
resubmissions, same-uid collisions with distinct dates, uid-less sessions
with and without a recoverable date, corrupt lines, multi-valued
Diagnoses, vitals and diagnoses repeat groups, lab sessions, Fahrenheit
temperatures (validation exceptions), 'Oth' organisms with free text
(fuzzy recode) and one hot facility holding about 30% of the sessions.

The corpus size is frozen: ADMISSIONS admissions written round-robin into
PARTS part files.

Usage: python3 gen_sessions.py --seed N --out DIR
"""
import argparse
import datetime as dt
import json
import os
import random

ADMISSIONS = 500
PARTS = 4
HOT_FACILITY = "F00"
FACILITIES = [f"F{i:02d}" for i in range(1, 12)]
DIAGNOSES = [("SEP", "Sepsis"), ("JAU", "Jaundice"), ("PRE", "Prematurity"),
             ("ASP", "Asphyxia"), ("RDS", "Respiratory distress"), ("HYP", "Hypothermia")]
OUTCOMES = [("DC", "Discharged"), ("D", "NND less than 24 hrs old"),
            ("DDN", "Died"), ("TRO", "Transferred out")]
ORGANISMS = [("CONS", "CoNS"), ("ECOLI", "E. coli"), ("KLS", "Klebsiella sp.")]
FREE_TEXT_ORGS = ["found KLESIELLA colonies", "klebsiella spp", "kleb. pneumoniae"]
EPOCH = dt.datetime(2025, 1, 1, 6, 0, 0)


def ts(t):
    return t.strftime("%Y-%m-%dT%H:%M:%S")


def day(t):
    return t.strftime("%Y-%m-%d")


def entries(rng, pairs):
    """pairs: [(key, [(value, label), ...])] in the list or dict shape."""
    if rng.random() < 0.3:
        return {k: {"values": {"value": [v for v, _ in vs], "label": [l for _, l in vs]}}
                for k, vs in pairs}
    return [{"key": k, "values": [{"value": v, "label": l} for v, l in vs]} for k, vs in pairs]


def facility(rng):
    return HOT_FACILITY if rng.random() < 0.3 else rng.choice(FACILITIES)


def session(script, uid, fac, start, ents, repeatables=None):
    s = {"scriptid": script}
    if uid is not None:
        s["uid"] = uid
    if fac is not None:
        s["facility"] = fac
    s["started_at"] = ts(start)
    s["completed_at"] = ts(start + dt.timedelta(minutes=30))
    s["appVersion"] = "2.3.1"
    s["entries"] = ents
    if repeatables:
        s["repeatables"] = repeatables
    return json.dumps(s, separators=(",", ":"))


def admission(rng, uid, fac, start, adm_date, temp=None):
    temp = temp or (f"{rng.uniform(98.0, 100.0):.1f}" if rng.random() < 0.03
                    else f"{rng.uniform(35.5, 38.5):.1f}")
    pairs = [("DateAdmission", [(adm_date, "adm")]),
             ("Temp", [(temp, "T")]),
             ("BirthWeight", [(str(rng.randrange(900, 4500, 10)), "BW")]),
             ("Gestation", [(str(rng.randrange(26, 42)), "wks")]),
             ("OFC", [(str(rng.randrange(26, 38)), "cm")]),
             ("Diagnoses", rng.sample(DIAGNOSES, rng.choice([1, 1, 2, 3])))]
    if rng.random() < 0.05:
        pairs += [("Org1", [("Oth", "Other organism")]),
                  ("OtherOrg1", [(rng.choice(FREE_TEXT_ORGS), "Other")])]
    rep = {}
    if rng.random() < 0.4:
        rep["vitals"] = [{"id": f"v{k}", "createdAt": ts(start + dt.timedelta(hours=6 * k + 1)),
                          "Temp": {"value": f"{rng.uniform(35.5, 38.5):.1f}"}}
                         for k in range(rng.randint(2, 10))]
    if rng.random() < 0.2:
        rep["diagnoses"] = [{"id": f"d{k}", "createdAt": ts(start + dt.timedelta(hours=k + 2)),
                             "Diag": {"value": rng.choice(DIAGNOSES)[1]}}
                            for k in range(rng.randint(1, 3))]
    return session("adm", uid, fac, start, entries(rng, pairs), rep)


def discharge(rng, uid, fac, start, far=False):
    bw, gest, ofc = (rng.randrange(900, 4500, 10), rng.randrange(26, 42), rng.randrange(26, 38))
    if far:  # a second, clinically distant candidate: bestMatch must reject it
        bw, gest, ofc = bw + 2500, gest + 12, ofc + 15
    pairs = [("DateDischarge", [(day(start), "dis")]),
             ("NeoTreeOutcome", [rng.choice(OUTCOMES)]),
             ("BirthWeight", [(str(bw), "BW")]),
             ("Gestation", [(str(gest), "wks")]),
             ("OFC", [(str(ofc), "cm")])]
    return session("dis", uid, fac, start, entries(rng, pairs))


def lab(rng, uid, fac, start):
    taken = start - dt.timedelta(days=rng.randint(1, 3))
    org = rng.choice(ORGANISMS)
    pairs = [("Episode", [(str(rng.randint(1, 3)), "Episode")]),
             ("DateBCR", [(day(start), "Reported")]),
             ("DateBCT", [(day(taken), "Taken")]),
             ("BCType", [rng.choice([("CULTURE FINAL", "Type"), ("GRAM PRELIMINARY", "Type")])]),
             ("BCResult", [rng.choice([("Pos", "Result"), ("NegP", "Result"), ("Neg", "Result")])]),
             ("Org1", [org]), ("OtherOrg1", [("", "")])]
    return session("lab", uid, fac, start, entries(rng, pairs))


def generate(seed, n_adm):
    rng = random.Random(seed)
    lines = []
    planted = dict.fromkeys(["admission_uids", "collision_uids", "resubmissions",
                             "uidless_with_date", "uidless_without_date", "corrupt",
                             "discharges", "second_discharge_candidates", "lab_sessions"], 0)
    for i in range(n_adm):
        uid = f"U{seed % 1000:03d}{i:06d}"
        fac = facility(rng)
        start = EPOCH + dt.timedelta(minutes=rng.randrange(0, 364 * 24 * 60))
        adm_date = day(start)
        planted["admission_uids"] += 1
        roll = rng.random()
        if roll < 0.03:  # same uid, two different records: KeyRepair splits to uid#date
            planted["collision_uids"] += 1
            other = start + dt.timedelta(days=rng.randint(1, 40))
            lines.append(admission(rng, uid, fac, other, day(other)))
        elif roll < 0.08:  # an earlier, since-corrected copy: dedup keeps the latest
            planted["resubmissions"] += 1
            lines.append(admission(rng, uid, fac, start - dt.timedelta(hours=2), adm_date,
                                   temp="35.0"))
        lines.append(admission(rng, uid, fac, start, adm_date))
        if rng.random() < 0.8:
            planted["discharges"] += 1
            out = start + dt.timedelta(days=rng.randint(1, 14))
            lines.append(discharge(rng, uid, fac, out))
            if rng.random() < 0.1:
                planted["second_discharge_candidates"] += 1
                lines.append(discharge(rng, uid, fac, out + dt.timedelta(days=3), far=True))
        if rng.random() < 0.2:
            planted["lab_sessions"] += 1
            lines.append(lab(rng, f"N{seed % 1000:03d}{i:06d}", fac,
                             start + dt.timedelta(days=rng.randint(0, 5))))
    # uid-less sessions: each recoverable one carries a distinct admission
    # date (its repaired key), so no two of them collapse in dedup
    n_rare = max(1, n_adm // 50)
    for k in range(n_rare):
        start = EPOCH + dt.timedelta(days=400 + k, hours=rng.randint(0, 12))
        lines.append(admission(rng, None, facility(rng), start, day(start)))
        planted["uidless_with_date"] += 1
    for _ in range(max(1, n_adm // 100)):
        start = EPOCH + dt.timedelta(minutes=rng.randrange(0, 364 * 24 * 60))
        pairs = [("Temp", [(f"{rng.uniform(35.5, 38.5):.1f}", "T")])]
        lines.append(session("adm", None, facility(rng), start, entries(rng, pairs)))
        planted["uidless_without_date"] += 1
    for _ in range(max(1, n_adm // 100)):
        good = admission(rng, f"X{rng.randrange(10**8):08d}", facility(rng), EPOCH, day(EPOCH))
        lines.append(good[: rng.randint(5, len(good) // 2)])  # truncated export
        planted["corrupt"] += 1
    rng.shuffle(lines)
    expected = {
        "admissions_rows": planted["admission_uids"] + planted["collision_uids"]
                           + planted["uidless_with_date"],
        "exceptions_rows": planted["corrupt"] + planted["uidless_without_date"],
    }
    expected["joined_rows"] = expected["admissions_rows"]
    expected["summary_n_admissions"] = expected["admissions_rows"]
    return lines, planted, expected


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--out", required=True)
    a = ap.parse_args()
    lines, planted, expected = generate(a.seed, ADMISSIONS)
    corpus = os.path.join(a.out, "corpus")
    os.makedirs(corpus, exist_ok=True)
    for f in os.listdir(corpus):
        os.remove(os.path.join(corpus, f))
    n_bytes = 0
    for p in range(PARTS):
        path = os.path.join(corpus, f"part-{p:05d}.jsonl")
        with open(path, "w", encoding="utf-8") as fh:
            fh.writelines(l + "\n" for l in lines[p::PARTS])
        n_bytes += os.path.getsize(path)
    manifest = {"seed": a.seed, "admissions": ADMISSIONS, "lines": len(lines),
                "input_bytes": n_bytes, "parts": PARTS, "planted": planted,
                "expected": expected}
    with open(os.path.join(a.out, "manifest.json"), "w") as fh:
        json.dump(manifest, fh, indent=1, sort_keys=True)


if __name__ == "__main__":
    main()
