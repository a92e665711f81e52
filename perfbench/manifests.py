"""Seeded inputs for `manifest_cli`, and the check of what the CLI wrote.

One checklist of 10 fields covers all 7 field types plus an `if`, a
`one_of` and a `some_of` dependency. Its Ontology field reads an OBO file
with more terms than `ChecklistCompiler.LargeSetThreshold` (10,000), so
membership runs through the broadcast-set kernel. Each manifest plants one
defect in each of a seeded 25-40% of its rows and none in the others, so
the expected verdict of every row is known without running a validator.
"""
import csv
import glob
import os
import random

FIELDS = ["sample_id", "is_host", "host_taxon", "env_term", "depth_m",
          "collected_at", "platform", "lat_lon", "site_name", "contact"]
ONTOLOGY_TERMS = 12_000
TAXA = 250
PLATFORMS = ["ILLUMINA", "NANOPORE", "PACBIO"]
UNKNOWN = "not available"

CHECKLIST = """\
<checklist perfbench_samples>
  header_row "{header}"
  unknown_term "{unknown}"
  <dependencies>
    <if is_host>
      then host_taxon
    </if>
    <one_of>
      location lat_lon
      location site_name
    </one_of>
    <some_of>
      reach depth_m
      reach contact
    </some_of>
  </dependencies>
  <field>
    name sample_id
    type Str
    required 1
    validation ^S[0-9]+$
  </field>
  <field>
    name is_host
    type Bool
    required 1
  </field>
  <field>
    name host_taxon
    type Taxonomy
    path {names}
  </field>
  <field>
    name env_term
    type Ontology
    required 1
    accepts_unknown 1
    path {obo}
  </field>
  <field>
    name depth_m
    type Int
    min 0
    max 11000
  </field>
  <field>
    name collected_at
    type DateTime
    required 1
  </field>
  <field>
    name platform
    type Enum
    required 1
{platforms}
  </field>
  <field>
    name lat_lon
    type Str
    validation ^-?[0-9]+[.][0-9]+;-?[0-9]+[.][0-9]+$
  </field>
  <field>
    name site_name
    type Str
  </field>
  <field>
    name contact
    type Str
    required 1
    validation ^[a-z]+@[a-z]+[.]org$
  </field>
</checklist>
"""


def term(i):
    return f"PBO:{i:07d}"


def write_lookups(d, rng):
    """The OBO ontology and the NCBI-style names.dmp the checklist reads."""
    obo = os.path.join(d, "terms.obo")
    with open(obo, "w") as f:
        f.write("format-version: 1.2\n\n")
        for i in range(ONTOLOGY_TERMS):
            f.write(f"[Term]\nid: {term(i)}\nname: term {i}\n\n")
    taxa = []
    names = os.path.join(d, "names.dmp")
    with open(names, "w") as f:
        for i in range(TAXA):
            tid = str(1000 + i * 7 + rng.randrange(7))
            name = f"Genus{i} species{rng.randrange(100)}"
            taxa.append((tid, name))
            f.write(f"{tid}\t|\t{name}\t|\t\t|\tscientific name\t|\n")
            f.write(f"{tid}\t|\tsyn{i}\t|\t\t|\tsynonym\t|\n")
    return obo, names, taxa


def valid_row(rng, n, taxa):
    host = rng.random() < 0.5
    tid, tname = rng.choice(taxa)
    loc = rng.randrange(3)
    return {
        "sample_id": f"S{n:07d}",
        "is_host": "true" if host else "false",
        "host_taxon": (tid if rng.random() < 0.5 else tname) if host else "",
        "env_term": UNKNOWN if rng.random() < 0.05
        else term(rng.randrange(ONTOLOGY_TERMS)),
        "depth_m": str(rng.randrange(0, 11001)) if rng.random() < 0.7 else "",
        "collected_at": f"20{rng.randrange(10, 25)}-{rng.randrange(1, 13):02d}-"
                        f"{rng.randrange(1, 29):02d}"
                        + ("" if rng.random() < 0.5 else
                           f"T{rng.randrange(24):02d}:{rng.randrange(60):02d}:00Z"),
        "platform": rng.choice(PLATFORMS),
        "lat_lon": f"{rng.uniform(-90, 90):.4f};{rng.uniform(-180, 180):.4f}"
        if loc == 0 else "",
        "site_name": f"site {rng.randrange(500)}" if loc == 1 else "",
        "contact": f"{rng.choice(['ana', 'bo', 'cy', 'dee'])}@lab{'x' * rng.randrange(1, 4)}.org",
    }


def _plant(rng, r, taxa):
    """Break exactly one rule of an otherwise valid row."""
    kind = rng.randrange(15)
    if kind == 0:
        r["sample_id"] = "X" + r["sample_id"][1:]
    elif kind == 1:
        r["sample_id"] = ""
    elif kind == 2:
        r["is_host"] = "maybe"
    elif kind == 3:
        r["is_host"], r["host_taxon"] = "true", ""
    elif kind == 4:
        r["is_host"], r["host_taxon"] = "false", rng.choice(taxa)[0]
    elif kind == 5:
        r["is_host"], r["host_taxon"] = "true", "Nonexistus fictus"
    elif kind == 6:
        r["env_term"] = term(ONTOLOGY_TERMS + rng.randrange(1000))
    elif kind == 7:
        r["depth_m"] = str(rng.choice([-1, 11001, 99999]))
    elif kind == 8:
        r["depth_m"] = "12.5"
    elif kind == 9:
        r["collected_at"] = "yesterday"
    elif kind == 10:
        r["platform"] = "SANGER"
    elif kind == 11:
        r["lat_lon"], r["site_name"] = "1.5;2.5", "site 1"
    elif kind == 12:
        r["lat_lon"], r["site_name"] = "north", ""
    elif kind == 13:
        r["contact"] = "nobody"
    else:
        r["contact"], r["depth_m"] = "", ""
    return r


def generate(d, seed, count, rows):
    """Write the checklist, its lookup files and `count` manifests of about
    `rows` rows into `d`. Returns {manifest path: [row invalid?, ...]}."""
    os.makedirs(d, exist_ok=True)
    rng = random.Random(seed)
    obo, names, taxa = write_lookups(d, rng)
    with open(os.path.join(d, "checklist.conf"), "w") as f:
        f.write(CHECKLIST.format(
            header=",".join(FIELDS), unknown=UNKNOWN, names=names, obo=obo,
            platforms="\n".join(f"    values {p}" for p in PLATFORMS)))
    expected = {}
    for m in range(count):
        n_rows = rows + rng.randrange(-rows // 10, rows // 10 + 1)
        frac = rng.uniform(0.25, 0.40)
        flags = []
        path = os.path.join(d, f"manifest_{m:03d}.csv")
        with open(path, "w", newline="") as f:
            w = csv.writer(f, lineterminator="\n")
            w.writerow(FIELDS)
            for n in range(n_rows):
                r = valid_row(rng, n, taxa)
                bad = rng.random() < frac
                if bad:
                    _plant(rng, r, taxa)
                flags.append(bad)
                w.writerow([r[k] for k in FIELDS])
        expected[path] = flags
    return expected


def check_call(sample, flags):
    """Problems with one `Main.run` call, judged against the planted
    defects: exit code, reported invalid-row count, and the written CSV's
    rows, columns and per-row error cells."""
    problems = []
    n_bad = sum(flags)
    if sample.get("error"):
        return [f"call raised: {sample['error']}"]
    if sample["exit"] != (1 if n_bad else 0):
        problems.append(f"exit {sample['exit']} with {n_bad} invalid rows planted")
    if sample["invalid_reported"] != n_bad:
        problems.append(f"reported {sample['invalid_reported']} invalid rows, "
                        f"planted {n_bad}")
    parts = sorted(glob.glob(os.path.join(sample["out"], "part-*.csv")))
    if len(parts) != 1:
        return problems + [f"{len(parts)} CSV part files, expected 1"]
    with open(parts[0], newline="") as f:
        rows = list(csv.reader(f))
    if not rows or rows[0] != FIELDS + ["errors"]:
        return problems + [f"header {rows[:1]}"]
    body = rows[1:]
    if len(body) != len(flags):
        return problems + [f"{len(body)} CSV rows, expected {len(flags)}"]
    with open(sample["manifest"], newline="") as f:
        ids = [r[0] for r in list(csv.reader(f))[1:]]
    for i, (row, bad) in enumerate(zip(body, flags)):
        if len(row) != len(FIELDS) + 1:
            problems.append(f"row {i + 1}: {len(row)} cells")
        elif (row[-1] != "") != bad:
            problems.append(f"row {i + 1}: error cell {row[-1]!r}, planted={bad}")
        elif row[0] != ids[i]:
            problems.append(f"row {i + 1}: sample_id {row[0]!r}, input {ids[i]!r}")
        if len(problems) > 5:
            break
    return problems
