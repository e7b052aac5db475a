"""Seeded generators for the four reference-shaped fixture tables
(FIXTURES.md §1-4). Deterministic (seed=7) so pipeline golden tests are
stable. Generated into a temp dir at test time — never into /root/testdata.
"""

from __future__ import annotations

import json
import os
import random

EUROPE = ["Serbia", "Croatia", "Slovenia", "Montenegro", "Italy", "Norway"]
COUNTRIES = EUROPE + ["Mainland China", "US", "Brazil", "India", "Japan"]


def cases_time_rows(n_dates: int = 60) -> list[dict]:
    rng = random.Random(7)
    rows = []
    series = []
    for c in COUNTRIES:
        n_states = 3 if c in ("Mainland China", "US") else 1
        for s in range(n_states):
            state = f"{c[:3]}-state-{s}" if n_states > 1 else None
            series.append((c, state))
    for c, state in series:
        conf = dth = rec = 0
        for d in range(n_dates):
            date = f"2020-{2 + d // 28:02d}-{d % 28 + 1:02d}"
            conf += rng.randint(0, 500)
            dth = min(conf, dth + rng.randint(0, 20))
            rec = min(conf, rec + rng.randint(0, 100))
            rows.append(
                {
                    "SNo": str(len(rows) + 1),
                    "ObservationDate": date,
                    "Province/State": state,
                    "Country/Region": c,
                    "Last Update": date + " 23:59",
                    "Confirmed": str(conf),
                    "Deaths": str(dth),
                    "Recovered": str(rec),
                }
            )
    return rows


CLINICAL_ASSAY = ["not_detected", "detected", "absent", "present", "negative", "positive"]
CLINICAL_FEATURES = [
    "Hemoglobin", "Hematocrit", "Platelets", "Eosinophils", "Red blood Cells",
    "Lymphocytes", "Leukocytes", "Basophils", "Monocytes",
]
CLINICAL_SPARSE = [
    "Mycoplasma pneumoniae", "Urine - Sugar", "Prothrombin time (PT), Activity",
    "D-Dimer", "Fio2 (venous blood gas analysis)", "Urine - Nitrite", "Vitamin B12",
]
ADMIT_COLS = [
    "Patient addmited to regular ward (1=yes, 0=no)",
    "Patient addmited to semi-intensive unit (1=yes, 0=no)",
    "Patient addmited to intensive care unit (1=yes, 0=no)",
]


def clinical_rows(n: int = 600) -> list[dict]:
    rng = random.Random(11)
    rows = []
    for i in range(n):
        positive = rng.random() < 0.10
        row = {
            "Patient ID": f"P{i:05d}",
            "Patient age quantile": str(rng.randint(0, 19)),
            "SARS-Cov-2 exam result": "positive" if positive else "negative",
        }
        for c in ADMIT_COLS:
            row[c] = str(int(rng.random() < 0.05))
        for c in CLINICAL_FEATURES:
            r = rng.random()
            if r < 0.6:
                row[c] = None
            elif r < 0.65:
                row[c] = "nan"
            else:
                shift = 0.4 if positive else 0.0
                row[c] = f"{rng.gauss(shift, 1.0):.4f}"
        for c in CLINICAL_SPARSE:
            row[c] = None if rng.random() < 0.99 else "1.0"
        row["Assay result"] = (
            rng.choice(CLINICAL_ASSAY) if rng.random() < 0.3 else None
        )
        rows.append(row)
    return rows


_WORDS = (
    "virus protein cell receptor vaccine antibody transmission symptom "
    "respiratory infection clinical trial genome sequence mutation"
).split()


def cord19_papers(n: int = 200) -> list[dict]:
    rng = random.Random(13)
    papers = []
    for i in range(n):
        n_sent = rng.randint(1, 8)
        abstract = [
            {
                "text": " ".join(rng.choices(_WORDS, k=rng.randint(6, 18))) + ".",
                "cite_spans": [],
                "ref_spans": [],
                "eq_spans": [],
                "section": "Abstract",
            }
            for _ in range(n_sent)
        ]
        authors = [
            {
                "first": f"F{a}",
                "middle": [f"M{a}"] if rng.random() < 0.3 else [],
                "last": f"L{i}_{a}",
                "suffix": "",
                "affiliation": {
                    "laboratory": "",
                    "institution": f"Inst{rng.randint(1, 20)}",
                    "location": {
                        "addrLine": None, "country": rng.choice(["US", "CN", "DE"]),
                        "postBox": None, "postCode": None, "region": None,
                        "settlement": None,
                    },
                },
                "email": f"a{a}@inst.org" if rng.random() < 0.5 else "",
            }
            for a in range(rng.randint(1, 5))
        ]
        papers.append(
            {
                "paper_id": f"paper{i:05d}",
                "metadata": {"title": f"Study {i}", "authors": authors},
                "abstract": abstract,
                "body_text": abstract[:1],
                "bib_entries": {
                    "BIBREF0": {
                        "ref_id": "b0", "title": "Ref", "authors": [],
                        "year": 2020, "venue": "J", "volume": "1",
                        "issn": "", "pages": "1-2", "other_ids": {"DOI": []},
                    }
                },
                "ref_entries": {
                    "FIGREF0": {"text": "Figure 1", "latex": None, "type": "figure"}
                },
                "back_matter": [],
            }
        )
    return papers


def radiography_rows(per_class: int = 20, size: int = 16) -> list[dict]:
    """Synthetic 'image' rows: binary pixel payloads whose per-class
    mean/std offsets separate classes (FIXTURES.md §4). 16×16 grayscale
    keeps the fixture tiny while exercising the byte-stats path."""
    rng = random.Random(17)
    classes = {0: 60, 1: 110, 2: 160, 3: 210}
    rows = []
    for label, mean in classes.items():
        for i in range(per_class):
            pixels = bytes(
                max(0, min(255, int(rng.gauss(mean, 25))))
                for _ in range(size * size)
            )
            rows.append(
                {
                    "origin": f"hdfs://data/class{label}/img{i}.png",
                    "height": size,
                    "width": size,
                    "nChannels": 1,
                    "mode": 0,
                    "data": pixels,
                    "label": label,
                }
            )
    # a few off-size rows the pipeline must filter out
    for i in range(4):
        rows.append(
            {
                "origin": f"file:/data/bad/img{i}.png",
                "height": 8, "width": 8, "nChannels": 1, "mode": 0,
                "data": bytes(range(64)), "label": 0,
            }
        )
    return rows


def write_cases_time_csv(tmpdir: str) -> str:
    import csv

    path = os.path.join(tmpdir, "cases_time.csv")
    rows = cases_time_rows()
    with open(path, "w", newline="") as f:
        w = csv.DictWriter(f, fieldnames=list(rows[0].keys()))
        w.writeheader()
        w.writerows(rows)
    return path


def write_clinical_csv(tmpdir: str) -> str:
    import csv

    path = os.path.join(tmpdir, "clinical.csv")
    rows = clinical_rows()
    with open(path, "w", newline="") as f:
        w = csv.DictWriter(f, fieldnames=list(rows[0].keys()))
        w.writeheader()
        w.writerows(rows)
    return path


def write_cord19_json(tmpdir: str) -> str:
    d = os.path.join(tmpdir, "cord19")
    os.makedirs(d, exist_ok=True)
    for p in cord19_papers():
        with open(os.path.join(d, f"{p['paper_id']}.json"), "w") as f:
            json.dump(p, f, indent=1)  # multiline on purpose
    return d


def write_radiography_parquet(tmpdir: str, spark) -> str:
    path = os.path.join(tmpdir, "radiography.parquet")
    rows = radiography_rows()
    df = spark.createDataFrame(
        [
            (
                (r["origin"], r["height"], r["width"], r["nChannels"],
                 r["mode"], bytearray(r["data"])),
                r["label"],
            )
            for r in rows
        ],
        "image struct<origin:string,height:int,width:int,nChannels:int,"
        "mode:int,data:binary>, label int",
    )
    df.write.mode("overwrite").parquet(path)
    return path


def jobs_during(spark, fn):
    """``(fn(), number of Spark jobs started while fn ran)``, whatever
    thread started them: a stream drained inside ``fn`` runs its
    micro-batches on the stream's own thread, under the stream's own job
    group. Spark numbers every job in submission order, so the count is
    the job ids the scheduler handed out meanwhile. Raises if a
    streaming query is already active, since its jobs would be counted
    too."""
    active = spark.streams.active
    if active:
        raise RuntimeError(
            "jobs_during: streaming queries already active, their jobs "
            f"would be counted: {[str(q.id) for q in active]}"
        )
    scheduler = spark.sparkContext._jsc.sc().dagScheduler()
    before = scheduler.nextJobId()
    out = fn()
    return out, scheduler.nextJobId() - before
