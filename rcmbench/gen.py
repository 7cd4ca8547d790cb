"""Seeded input generators for the benchmark (stdlib + NumPy; pyarrow only to
write the corpus parquet files).

``HospitalSources`` writes the two-hospital source layout that
``plans.pipeline.run_pipeline(reference_root=...)`` reads:

    SQL/hospital_dbs/hospital{1,2}_db/{departments,encounters,patients,
                                       providers,transactions}.csv
    Data/claims/hospital{1,2}_claim_data.csv

and keeps the properties FIXTURES.md section A documents for the real seed:
hospital B's drifted patient header (``ID, F_Name, L_Name, M_Name`` and
``Updated_Date``), full-word genders, duplicate patient ids, ``PROV0456``-style
provider ids in transactions that never join the ``H1-PROV0001``-style
provider table, claims whose ModifiedDate mostly precedes ServiceDate
(negative ``days_to_payment``) and claims that resolve on
``(TransactionID, source)``. ``advance()`` turns the snapshot into the next
night's: a seeded share of patients get a new Address or LastName, new
patients arrive, and transactions and claims are appended. The generator
tracks what the star must look like afterwards (``expected()``).

``write_corpus`` writes the ``documents``/``embeddings``/``lineitem``
parquet tables the corpus operators read, with the properties of the
repository's sf0.1 test corpus that drive the operators' work (listed with
the generator below).
"""

from __future__ import annotations

import csv
import datetime as dt
import os

import numpy as np

FIRST = ["james", "Mary", "JOHN", "patricia", "Robert", "jennifer", "Michael", "LINDA",
         "william", "Elizabeth", "David", "barbara", "Richard", "susan", "Joseph",
         "Jessica", "thomas", "Sarah", "Charles", "karen", "Maria", "Wei", "Aisha"]
LAST = ["smith", "Johnson", "WILLIAMS", "brown", "Jones", "garcia", "Miller", "DAVIS",
        "rodriguez", "Martinez", "hernandez", "Lopez", "gonzalez", "Wilson", "anderson",
        "Thomas", "taylor", "Moore", "jackson", "Martin", "lee", "Perez", "Thompson",
        "white", "Harris", "sanchez", "Clark", "ramirez", "Lewis", "robinson"]
STREETS = ["Main St", "Oak Ave", "Pine Rd", "Maple Dr", "Cedar Ln", "Elm St", "Lake Blvd",
           "Hill Rd", "Park Ave", "River Way"]
CITIES = ["Springfield, IL", "Madison, WI", "Austin, TX", "Denver, CO", "Salem, OR",
          "Dover, DE", "Albany, NY", "Boise, ID"]
DEPARTMENTS = ["Emergency", "Cardiology", "Neurology", "Oncology", "Pediatrics",
               "Orthopedics", "Dermatology", "Gastroenterology", "Urology", "Radiology",
               "Anesthesiology", "Pathology", "Surgery", "Pulmonology", "Nephrology",
               "Ophthalmology", "Gynecology", "Psychiatry", "Endocrinology"]
SPECIALIZATIONS = ["Oncology", "Pediatrics", "Cardiology", "Neurology", "Surgery",
                   "Radiology", "Dermatology", "Psychiatry"]
ENCOUNTER_TYPES = ["Inpatient", "Outpatient", "Telemedicine", "Routine Checkup", "Emergency"]
VISIT_TYPES = ["Consultation", "Emergency", "Follow-up", "Routine"]
AMOUNT_TYPES = ["Co-pay", "Insurance", "Medicaid", "Medicare", "Self-pay"]
LOB = ["Commercial", "Medicaid", "Medicare", "Self-Pay"]
PAYORS = ["Medicare", "BlueCross", "UnitedHealthcare", "Aetna", "Medicaid"]
CLAIM_STATUS = ["Approved", "Denied", "Paid", "Pending", "Rejected"]
PAYOR_TYPES = ["Private", "Self-pay", "Government"]

PATIENT_COLS_A = ["PatientID", "FirstName", "LastName", "MiddleName", "SSN",
                  "PhoneNumber", "Gender", "DOB", "Address", "ModifiedDate"]
PATIENT_COLS_B = ["ID", "F_Name", "L_Name", "M_Name", "SSN",
                  "PhoneNumber", "Gender", "DOB", "Address", "Updated_Date"]
ENCOUNTER_COLS = ["EncounterID", "PatientID", "EncounterDate", "EncounterType",
                  "ProviderID", "DepartmentID", "ProcedureCode", "InsertedDate",
                  "ModifiedDate"]
TRANSACTION_COLS = ["TransactionID", "EncounterID", "PatientID", "ProviderID", "DeptID",
                    "VisitDate", "ServiceDate", "PaidDate", "VisitType", "Amount",
                    "AmountType", "PaidAmount", "ClaimID", "PayorID", "ProcedureCode",
                    "ICDCode", "LineOfBusiness", "MedicaidID", "MedicareID",
                    "InsertDate", "ModifiedDate"]
CLAIM_COLS = ["ClaimID", "TransactionID", "PatientID", "EncounterID", "ProviderID",
              "DeptID", "ServiceDate", "ClaimDate", "PayorID", "ClaimAmount",
              "PaidAmount", "ClaimStatus", "PayorType", "Deductible", "Coinsurance",
              "Copay", "InsertDate", "ModifiedDate"]

HOSPITALS = [("hospital_a", "hospital1_db", "hospital1", "A", 25),
             ("hospital_b", "hospital2_db", "hospital2", "B", 30)]
CHANGE_SHARE = 0.02  # patients whose Address or LastName changes per night
NEW_SHARE = 0.01  # new patients, and appended activity, per night
_EPOCH = dt.date(2020, 1, 1)
_DAYS = (dt.date(2025, 6, 30) - _EPOCH).days


def _day(n) -> str:
    return (_EPOCH + dt.timedelta(days=int(n))).isoformat()


class _Hospital:
    """One hospital's source tables as Python rows (column order = CSV order)."""

    def __init__(self, rng: np.random.Generator, tag: str, n_providers: int,
                 n_patients: int, n_rows: int):
        self.rng = rng
        self.providers = [
            [f"H{1 if tag == 'A' else 2}-PROV{i:04d}", FIRST[i % len(FIRST)].title(),
             LAST[(3 * i) % len(LAST)].title(), SPECIALIZATIONS[i % len(SPECIALIZATIONS)],
             f"DEPT{1 + i % len(DEPARTMENTS):03d}", int(1_000_000_000 + rng.integers(0, 9e9))]
            for i in range(1, n_providers + 1)
        ]
        self.departments = [[f"DEPT{i + 1:03d}", name] for i, name in enumerate(DEPARTMENTS)]
        self.patients: list[list] = []  # distinct patients, keyed by position
        self.next_patient = 1
        self.encounters: list[list] = []
        self.transactions: list[list] = []
        self.claims: list[list] = []
        self.orphan_transactions = 0
        self.non_positive_amounts = 0
        self.add_patients(n_patients)
        # positions written twice: duplicate patient ids, as in the reference
        self.dups = sorted(rng.choice(n_patients, size=max(1, n_patients // 700),
                                      replace=False).tolist())
        self.add_activity(n_rows)

    def add_patients(self, n: int) -> None:
        r = self.rng
        for _ in range(n):
            pid = f"HOSP1-{self.next_patient:06d}"
            self.next_patient += 1
            phone = (f"+1-{r.integers(200, 999)}-{r.integers(200, 999)}-"
                     f"{r.integers(1000, 9999)}x{r.integers(0, 9999):04d}"
                     if r.random() < 0.5 else str(r.integers(2_000_000_000, 9_999_999_999)))
            self.patients.append([
                pid, FIRST[r.integers(len(FIRST))], LAST[r.integers(len(LAST))],
                chr(65 + int(r.integers(26))), f"{r.integers(100, 999)}-{r.integers(10, 99)}-"
                f"{r.integers(1000, 9999)}", phone, "Male" if r.random() < 0.5 else "Female",
                dt.date(1930 + int(r.integers(80)), 1 + int(r.integers(12)),
                        1 + int(r.integers(28))).isoformat(),
                self._address(), _day(r.integers(_DAYS)),
            ])

    def _address(self) -> str:
        r = self.rng
        return (f"{r.integers(1, 9999)} {STREETS[r.integers(len(STREETS))]}, "
                f"{CITIES[r.integers(len(CITIES))]} {r.integers(10000, 99999)}")

    def add_activity(self, n: int) -> None:
        """n encounters, n transactions and n claims (one chain per row)."""
        r = self.rng
        n_pat = len(self.patients)
        for _ in range(n):
            i = len(self.transactions) + 1
            if r.random() < 0.002:  # fact rows whose patient resolves to no dim row
                pid = f"HOSP9-{i:06d}"
                self.orphan_transactions += 1
            else:
                pid = self.patients[int(r.integers(n_pat))][0]
            enc, trans, claim = f"ENC{i:06d}", f"TRANS{i:06d}", f"CLAIM{i:06d}"
            prov = f"PROV{int(r.integers(1, 500)):04d}"  # never joins H?-PROV ids
            dept = f"DEPT{int(r.integers(1, 20)):03d}"
            code = int(10000 + r.integers(0, 1000) * 7)
            svc = int(r.integers(_DAYS))
            # cents stored through float32, like the reference's 988.3699951171875
            amount = float(np.float32(round(r.uniform(100, 5000), 2)))
            if r.random() < 0.002:
                amount = -amount
                self.non_positive_amounts += 1
            paid = float(np.float32(round(amount * r.uniform(0, 1), 2)))
            self.encounters.append([
                enc, pid, _day(svc), ENCOUNTER_TYPES[r.integers(5)], prov, dept, code,
                _day(svc), _day(svc + r.integers(0, 30)),
            ])
            self.transactions.append([
                trans, enc, pid, prov, dept, _day(svc), _day(svc), _day(svc + r.integers(0, 90)),
                VISIT_TYPES[r.integers(4)], amount, AMOUNT_TYPES[r.integers(5)], paid, claim,
                f"PAYOR{int(r.integers(1, 50)):03d}", code,
                f"I{int(r.integers(10, 99))}.{int(r.integers(10))}", LOB[r.integers(4)],
                f"MCD{int(r.integers(1e6)):06d}", f"MCR{int(r.integers(1e6)):06d}",
                _day(svc), _day(svc + r.integers(0, 30)),
            ])
            claim_amt = 0.0 if r.random() < 0.002 else round(float(r.uniform(100, 5000)), 2)
            # ModifiedDate precedes ServiceDate for ~91% of claims
            mod = svc - int(r.integers(1, 400)) if r.random() < 0.91 else svc + int(r.integers(0, 60))
            self.claims.append([
                claim, trans, pid, enc, prov, dept, _day(svc), _day(svc + r.integers(0, 30)),
                PAYORS[r.integers(5)], claim_amt, round(claim_amt * float(r.uniform(0, 1)), 2),
                CLAIM_STATUS[r.integers(5)], PAYOR_TYPES[r.integers(3)],
                round(float(r.uniform(0, 500)), 2), round(float(r.uniform(0, 0.3)), 2),
                round(float(r.uniform(0, 50)), 2), _day(svc), _day(mod),
            ])

    def patient_rows(self) -> list[list]:
        dups = [self.patients[i] for i in self.dups]
        return self.patients + dups


class HospitalSources:
    """Hospital A/B source snapshot; ``scale`` 1.0 is the reference's row
    counts (5k patients and 10k encounters/transactions/claims per hospital,
    25 + 30 providers, 19 departments each)."""

    def __init__(self, seed: int, scale: float = 1.0):
        self.rng = np.random.default_rng(seed)
        n_pat, n_rows = max(20, int(5000 * scale)), max(40, int(10000 * scale))
        self.hosp = {src: _Hospital(self.rng, tag, n_prov, n_pat, n_rows)
                     for src, _, _, tag, n_prov in HOSPITALS}
        self.night = 1
        self.changed_total = 0  # expired SCD2 rows expected in dim_patients
        self._changed: set[tuple[str, int]] = set()

    def advance(self) -> None:
        """Next night's snapshot: changed Address/LastName, new patients,
        appended transactions and claims. Each patient changes at most once,
        so version 2 rows == expired rows == changed_total."""
        self.night += 1
        r = self.rng
        for src, h in self.hosp.items():
            n = len(h.patients)
            free = [i for i in range(n) if (src, i) not in self._changed]
            k = max(1, int(n * CHANGE_SHARE))
            for i in r.choice(free, size=k, replace=False).tolist():
                row = h.patients[i]
                if r.random() < 0.5:
                    new = row[8]
                    while new == row[8]:
                        new = h._address()
                    row[8] = new
                else:
                    new = row[2]
                    while new.lower() == row[2].lower():
                        new = LAST[r.integers(len(LAST))]
                    row[2] = new
                self._changed.add((src, i))
            self.changed_total += k
            h.add_patients(max(1, int(n * NEW_SHARE)))
            h.add_activity(max(2, int(len(h.transactions) * NEW_SHARE)))

    def write(self, root: str) -> int:
        """Write the snapshot in the reference layout; returns bytes written."""
        total = 0
        for src, db, claim_prefix, tag, _ in HOSPITALS:
            h = self.hosp[src]
            d = os.path.join(root, "SQL", "hospital_dbs", db)
            tables = {
                "departments": (["DeptID", "Name"], h.departments),
                "providers": (["ProviderID", "FirstName", "LastName", "Specialization",
                               "DeptID", "NPI"], h.providers),
                "patients": (PATIENT_COLS_A if tag == "A" else PATIENT_COLS_B,
                             h.patient_rows()),
                "encounters": (ENCOUNTER_COLS, h.encounters),
                "transactions": (TRANSACTION_COLS, h.transactions),
            }
            for name, (cols, rows) in tables.items():
                total += _write_csv(os.path.join(d, f"{name}.csv"), cols, rows)
            total += _write_csv(
                os.path.join(root, "Data", "claims", f"{claim_prefix}_claim_data.csv"),
                CLAIM_COLS, h.claims)
        return total

    def write_staged_dim_patients(self, stage: str, run_date: str) -> None:
        """Stage ``dim_patients`` as the pipeline's load night leaves it for
        this snapshot (version 1 of every distinct patient, dense
        ``patient_sk`` in unified-id order, names title-cased, gender
        recoded, birthday-aware age), so the next night is the SCD2 change
        run without a load night in the same process. The benchmark's tests
        pin this equal to what ``run_pipeline`` stages itself."""
        import pyarrow as pa
        import pyarrow.parquet as pq

        asof = dt.date.fromisoformat(run_date)
        rows = []
        for src, _, _, tag, _ in HOSPITALS:
            for p in self.hosp[src].patients:
                dob = dt.date.fromisoformat(p[7])
                age = asof.year - dob.year - ((asof.month, asof.day) < (dob.month, dob.day))
                rows.append((f"{tag}-{p[0]}", _initcap(p[1]), _initcap(p[2]), "Unknown",
                             age, p[8], src))
        rows.sort()
        cols = list(zip(*rows))
        n = len(rows)
        table = pa.table({
            "unified_patient_id": pa.array(cols[0], pa.string()),
            "FirstName": pa.array(cols[1], pa.string()),
            "LastName": pa.array(cols[2], pa.string()),
            "Gender": pa.array(cols[3], pa.string()),
            "age": pa.array(cols[4], pa.int32()),
            "Address": pa.array(cols[5], pa.string()),
            "source_hospital": pa.array(cols[6], pa.string()),
            "version": pa.array([1] * n, pa.int32()),
            "effective_date": pa.array([asof] * n, pa.date32()),
            "expiry_date": pa.array([None] * n, pa.date32()),
            "is_current": pa.array([True] * n, pa.bool_()),
            "patient_sk": pa.array(range(n), pa.int64()),
        })
        base = os.path.join(stage, "dim_patients")
        os.makedirs(os.path.join(base, "v=1"), exist_ok=True)
        pq.write_table(table, os.path.join(base, "v=1", "part-00000.parquet"))
        with open(os.path.join(base, "_CURRENT"), "w") as f:
            f.write("1")

    def expected(self) -> dict[str, int]:
        """Star invariants the pipeline must reproduce on this snapshot."""
        hs = self.hosp.values()
        n_pat = sum(len(h.patients) for h in hs)
        return {
            "current_patients": n_pat,
            "dim_patients": n_pat + self.changed_total,
            "expired": self.changed_total,
            "fact_transactions": sum(len(h.transactions) for h in hs),
            "fact_claims": sum(len(h.claims) for h in hs),
            "orphan_transactions": sum(h.orphan_transactions for h in hs),
            "non_positive_amounts": sum(h.non_positive_amounts for h in hs),
            "dim_departments": sum(len(h.departments) for h in hs),
            "dim_providers": sum(len(h.providers) for h in hs),
        }


def _initcap(s: str) -> str:
    """Spark's initcap: upper-case each space-separated word's first letter."""
    return " ".join(w[:1].upper() + w[1:].lower() for w in s.split(" "))


def _write_csv(path: str, cols: list[str], rows: list[list]) -> int:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w", newline="") as f:
        w = csv.writer(f)
        w.writerow(cols)
        w.writerows(rows)
    return os.path.getsize(path)


# ---- corpus tables ---------------------------------------------------------
#
# The corpus operators' work depends on a few properties of their input, so
# the generator reproduces those of the repository's sf0.1 test corpus,
# measured with DuckDB (scaled linearly with ``sf``; sf0.1 in brackets):
#
# - documents: 50,000 x sf rows [5,000]; source ``src<doc_id % 20>`` (20
#   equal sources, src0 being the contamination benchmark); lang en 41%,
#   de/es/fr/zh about 15% each; text of 10-100 words drawn uniformly from
#   the same 30-word vocabulary; 5% of docs [250] are near duplicates (a
#   copy of another doc with " dup" appended: Jaccard 0.8-1.0 on word
#   3-grams) and 0.16% [8] exact copies. Hence almost every non-src0 doc
#   shares >= 2 word 3-grams with src0 [4,725 of 4,750 blast-radius seeds,
#   26 docs at hop 1] and the verified near-dup pairs number about 5% of
#   the docs [256].
# - embeddings: max(500, 20,000 x sf) rows [2,000] of 64 floats drawn
#   i.i.d. from N(0, 0.125), with a uniform label in 0-9 (no cluster
#   structure).
# - lineitem: 6,000,000 x sf rows [600,000]; orderkey uniform over
#   1,500,000 x sf orders (about 4 rows per order), partkey uniform over
#   200,000 x sf parts [20,000; 11-53 rows per part], suppkey over 0-999.

VOCAB = ("a the data spark table join key value row column query scan filter sort "
         "merge hash group agg window stream batch line order customer part small big "
         "fast slow vector").split()
LANGS = (["en", "de", "es", "fr", "zh"], [0.41, 0.1475, 0.1475, 0.1475, 0.1475])
NEAR_DUP_SHARE = 0.05
EXACT_DUP_SHARE = 0.0016


def corpus_documents(seed: int, n_docs: int) -> list[tuple[int, str, str, str]]:
    """(doc_id, text, lang, source) rows with the sf0.1 corpus properties
    listed above. Copies are made of original docs only."""
    r = np.random.default_rng(seed)
    texts = [" ".join(VOCAB[j] for j in r.integers(0, len(VOCAB), int(r.integers(10, 101))))
             for _ in range(n_docs)]
    n_near = round(n_docs * NEAR_DUP_SHARE)
    n_exact = max(1, round(n_docs * EXACT_DUP_SHARE))
    copies = r.choice(n_docs, size=n_near + n_exact, replace=False)
    originals = r.choice(np.setdiff1d(np.arange(n_docs), copies), size=len(copies),
                         replace=False)
    for k, (i, j) in enumerate(zip(copies.tolist(), originals.tolist())):
        texts[i] = texts[j] + (" dup" if k < n_near else "")
    langs = r.choice(LANGS[0], size=n_docs, p=LANGS[1])
    return [(i, texts[i], str(langs[i]), f"src{i % 20}") for i in range(n_docs)]


def write_corpus(root: str, seed: int, sf: float) -> int:
    """documents / embeddings / lineitem parquet under ``root`` at scale
    factor ``sf``; returns bytes written."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    r = np.random.default_rng(seed + 1)
    docs = corpus_documents(seed, round(50_000 * sf))
    tables = {
        "documents": pa.table({
            "doc_id": pa.array([d[0] for d in docs], pa.int64()),
            "text": [d[1] for d in docs],
            "lang": [d[2] for d in docs],
            "source": [d[3] for d in docs],
            "n_chars": pa.array([len(d[1]) for d in docs], pa.int64()),
        }),
    }
    n_vec = max(500, round(20_000 * sf))
    emb = r.normal(0.0, 0.125, size=(n_vec, 64)).astype(np.float32)
    tables["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(n_vec), pa.int64()),
        "embedding": pa.array(list(emb), pa.list_(pa.float32())),
        "label": pa.array(r.integers(0, 10, n_vec), pa.int32()),
    })
    n_li = round(6_000_000 * sf)
    tables["lineitem"] = pa.table({
        "l_orderkey": pa.array(r.integers(0, round(1_500_000 * sf), n_li), pa.int64()),
        "l_partkey": pa.array(r.integers(0, round(200_000 * sf), n_li), pa.int64()),
        "l_suppkey": pa.array(r.integers(0, 1000, n_li), pa.int64()),
        "l_linenumber": pa.array(r.integers(1, 8, n_li), pa.int32()),
        "l_quantity": pa.array(r.integers(1, 51, n_li).astype(np.float64)),
        "l_extendedprice": pa.array(np.round(r.uniform(900, 105000, n_li), 2)),
        "l_discount": pa.array(np.round(r.uniform(0, 0.1, n_li), 2)),
        "l_tax": pa.array(np.round(r.uniform(0, 0.08, n_li), 2)),
        "l_returnflag": pa.array(np.array(["A", "N", "R"])[r.integers(0, 3, n_li)]),
        "l_linestatus": pa.array(np.array(["F", "O"])[r.integers(0, 2, n_li)]),
        "l_shipdate": pa.array(
            np.datetime64("1995-01-01") + r.integers(0, 2500, n_li).astype("timedelta64[D]"),
            pa.timestamp("us")),
    })
    os.makedirs(root, exist_ok=True)
    total = 0
    for name, table in tables.items():
        path = os.path.join(root, f"{name}.parquet")
        pq.write_table(table, path)
        total += os.path.getsize(path)
    return total
