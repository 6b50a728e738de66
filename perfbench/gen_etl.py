#!/usr/bin/env python3
"""Seeded, reference-shaped inputs for the ETL workloads, plus a manifest.

Usage: python3 gen_etl.py OUT_DIR SEED N_CONCEPTS

Writes, under OUT_DIR:
  concept.jsonl             N_CONCEPTS concept rows (FIXTURES.md A1)
  concept_hierarchy.jsonl   ~1.5 x N_CONCEPTS parent/child rows (A2)
  concept_id_mapping.json   one whole-file JSON object (A3)
  relationships.xlsx        19 sheet parts, the 16 of SheetMapping.referenceConfig
                            filled (A4); 3,790 data rows, 3,160 on sheet index 4
  manifest.json             expected per-stage row counts and enrichment facts

The inputs cover: names that collide after sanitizing, Cancer-Numeric-Modifier
rows, duplicate and dangling hierarchy rows, mapping misses (concepts without
an entity id, and entity ids for unknown concepts), every sheet layout of the
reference config (trailing-space labels, null node1 and node2 ids, repeated
pairs, rows past an empty-first-cell cutoff). The same SEED and N_CONCEPTS give
byte-identical files.

The expected counts restate the pipeline's documented semantics (first writer
wins on sanitized concept names, CREATE edges keep duplicates, sheet edges are
MERGE-deduplicated, sheet rows stop at the first empty first cell) so the
benchmark can check the program's outputs against an independent model.
"""
import json
import os
import random
import re
import sys
import zipfile

import stub_model

# SheetMapping.referenceConfig: index -> (label1, (value col, id col), label2, (value col, id col), rel)
SHEETS = {
    2: ("SurgicalExtent", (0, 1), "OutcomeType", (8, 6), "ASSOCIATED_WITH"),
    3: ("MedicationAPI", (0, 1), "OutcomeType", (2, 3), "CAUSED_OUTCOME"),
    4: ("NeoplasmType", (12, 13), "Gene", (0, 1), "HAS_BIOMARKER"),
    5: ("MedicationAPI", (0, 1), "NeoplasmType", (2, 3), "TREATS"),
    6: ("MedicationAPI", (0, 1), "Gene", (2, 3), "HAS_TARGET"),
    8: ("MedicationAPI", (0, 1), "Gene", (2, 3), "HAS_PREDICTIVE_BIOMARKER"),
    9: ("DiseaseType", (0, 1), "Technique", (2, 3), "HAS_REASON"),
    10: ("NeoplasmType", (0, 1), "MorphologyType", (2, 3), "HAS_MORPHOLOGY"),
    11: ("NeoplasmType", (0, 1), "Stage", (2, 3), "HAS_STAGE"),
    12: ("MedicationAPI", (0, 1), "Mechanism", (2, 3), "HAS_MECHANISM"),
    13: ("NeoplasmType", (0, 1), "BodyPart", (2, 3), "HAS_LOCATION"),
    14: ("NeoplasmType", (0, 1), "SurgicalExtent ", (2, 3), "TREATS"),
    15: ("NeoplasmType", (0, 1), "Behavior ", (2, 3), "HAS_BEHAVIOR"),
    16: ("NeoplasmType", (0, 1), "Technique ", (2, 3), "TREATS"),
    17: ("MedicationAPI", (0, 1), "DiseaseType ", (2, 3), "CAUSED_SIDE_EFFECT"),
    18: ("MedicationAPI", (0, 1), "MedicationClass ", (2, 3), "MEMBER_OF"),
}
N_SHEET_PARTS = 19
SHEET4_ROWS, SHEET4_DUP_PAIRS, OTHER_ROWS = 3160, 1793, 630
ID_PREFIX = {"MedicationAPI": "API", "NeoplasmType": "NT", "Gene": "G", "OutcomeType": "OT",
             "SurgicalExtent": "SE", "DiseaseType": "DT", "Technique": "TQ",
             "MorphologyType": "MT", "Stage": "ST", "Mechanism": "MA", "BodyPart": "BP",
             "Behavior": "BH", "MedicationClass": "MC"}
SEMANTIC_TYPES = ["Neoplasm", "Disease", "Finding", "Procedure", "Drug",
                  "Cancer-Numeric-Modifier"]
WORDS = ["Malignant", "Lung", "Neoplasm", "Bladder", "Carcinoma", "Stage", "Grade",
         "Tumor", "Breast", "Renal", "Cell", "Acute", "Chronic", "Lymphoma", "Node"]
SANITIZE = re.compile(r"[^a-zA-Z0-9 \t\n\x0b\f\r]")  # Java's [^a-zA-Z0-9\s]


def sanitize(s):
    return SANITIZE.sub("", s)


def concept_rows(rng, n):
    rows, names = [], []
    for i in range(n):
        cid = 100000 + i * 7
        if i % 20 == 10:
            # same key after sanitizing: an earlier name with punctuation added
            base = rng.choice(names)
            at = rng.randint(0, len(base))
            name = base[:at] + rng.choice(["-", ",", "'", "(", "&"]) + base[at:]
        else:
            name = " ".join(rng.choice(WORDS) for _ in range(rng.randint(1, 4))) + f" {i}"
            if rng.random() < 0.2:
                name += rng.choice([" (NOS)", ", unspecified", " - type II", " & other"])
        names.append(name)
        row = {"id": cid, "name": name}
        st = "Cancer-Numeric-Modifier" if i % 33 == 5 else rng.choice(SEMANTIC_TYPES[:5])
        for field, value in (("semantic_type", st if rng.random() < 0.9 else None),
                             ("cui", f"C{rng.randint(0, 9999999):07d}" if rng.random() < 0.7 else None),
                             ("search_type", rng.choice(["exact", "fuzzy", "nested-term"])
                              if rng.random() < 0.5 else None),
                             ("description", "desc " + name if rng.random() < 0.3 else None),
                             ("property_concept", rng.choice(["Disease", "Demographics:age", ""])
                              if rng.random() < 0.4 else None)):
            mode = rng.random()
            if value is not None:
                row[field] = value
            elif mode < 0.5:
                row[field] = None          # explicit null; otherwise the key is absent
        rows.append(row)
    return rows


def hierarchy_rows(rng, ids, n):
    rows = []
    for k in range(n):
        if k % 20 == 19:
            rows.append(dict(rng.choice(rows)))  # exact duplicate (CREATE keeps it)
        elif k % 33 == 7:
            rows.append({"child_id": rng.choice(ids), "parent_id": 9_000_000 + rng.randint(0, 999)})
        else:
            rows.append({"child_id": rng.choice(ids), "parent_id": rng.choice(ids)})
    return rows


def sheet_rows(rng, idx, spec):
    """Data rows for one sheet as {col: value}; returns (rows, live_rows)."""
    label1, (v1, i1), label2, (v2, i2), _ = spec
    n = SHEET4_ROWS if idx == 4 else OTHER_ROWS // 15
    p1, p2 = ID_PREFIX[label1.strip()], ID_PREFIX[label2.strip()]
    rows, pairs = [], []
    for r in range(n):
        if idx == 4 and r >= SHEET4_ROWS - SHEET4_DUP_PAIRS and pairs:
            a, b = rng.choice(pairs)      # repeated (id1, id2) pair
        else:
            a, b = rng.randint(0, 400), rng.randint(0, 400)
            pairs.append((a, b))
        row = {v1: f"{label1.strip()} name {a} (x, y-{a % 7})", i1: f"{p1}{a}",
               v2: f"{label2.strip()} name {b}", i2: f"{p2}{b}"}
        if r % 50 == 17:
            del row[i2]                    # null node2 id: row skipped
        elif r % 50 == 41:
            del row[i1]                    # null node1 id: becomes 'None'
        rows.append(row)
    live = len(rows)
    if idx in (3, 9, 13):
        # empty first cell: the scan stops here; the rows below must not load
        cut = len(rows) - 5
        rows[cut] = {k: v for k, v in rows[cut].items() if k != 0}
        live = cut
    return rows, live


def col_ref(c):
    s = ""
    c += 1
    while c:
        c, r = divmod(c - 1, 26)
        s = chr(65 + r) + s
    return s


def write_xlsx(path, sheets, header):
    strings, index = [], {}

    def sid(v):
        if v not in index:
            index[v] = len(strings)
            strings.append(v)
        return index[v]

    def esc(v):
        return v.replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;")

    parts = {}
    for part in range(N_SHEET_PARTS):
        body = []
        for r, row in enumerate([header.get(part, {})] + sheets.get(part, [])):
            cells = "".join(f'<c r="{col_ref(c)}{r + 1}" t="s"><v>{sid(v)}</v></c>'
                            for c, v in sorted(row.items()))
            body.append(f'<row r="{r + 1}">{cells}</row>')
        parts[f"xl/worksheets/sheet{part + 1}.xml"] = (
            '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
            '<worksheet xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main">'
            f'<sheetData>{"".join(body)}</sheetData></worksheet>')
    parts["xl/sharedStrings.xml"] = (
        '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
        '<sst xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main">'
        + "".join(f"<si><t>{esc(s)}</t></si>" for s in strings) + "</sst>")
    parts["xl/workbook.xml"] = (
        '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
        '<workbook xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main" '
        'xmlns:r="http://schemas.openxmlformats.org/officeDocument/2006/relationships"><sheets>'
        + "".join(f'<sheet name="Sheet{i + 1}" sheetId="{i + 1}" r:id="rId{i + 1}"/>'
                  for i in range(N_SHEET_PARTS)) + "</sheets></workbook>")
    parts["[Content_Types].xml"] = (
        '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
        '<Types xmlns="http://schemas.openxmlformats.org/package/2006/content-types"/>')
    with zipfile.ZipFile(path, "w", zipfile.ZIP_DEFLATED) as z:
        for name in sorted(parts):
            info = zipfile.ZipInfo(name, date_time=(1980, 1, 1, 0, 0, 0))
            info.compress_type = zipfile.ZIP_DEFLATED
            z.writestr(info, parts[name].encode("utf-8"))


def write_jsonl(path, rows):
    with open(path, "w") as f:
        for r in rows:
            f.write(json.dumps(r) + "\n")


def main(out, seed, n_concepts):
    rng = random.Random(seed)
    os.makedirs(out, exist_ok=True)
    concepts = concept_rows(rng, n_concepts)
    ids = [c["id"] for c in concepts]
    hierarchy = hierarchy_rows(rng, ids, n_concepts * 3 // 2)
    mapped = [i for k, i in enumerate(ids) if k % 10 != 3]
    mapping = {str(i): 900000 + k for k, i in enumerate(mapped)}
    for k in range(max(1, n_concepts // 100)):  # entity ids for unknown concepts
        mapping[str(8_000_000 + k)] = 990000 + k
    sheets, live, header = {}, {}, {}
    for idx, spec in sorted(SHEETS.items()):
        sheets[idx], live[idx] = sheet_rows(rng, idx, spec)
        header[idx] = {c: f"Header {c}" for c in (spec[1] + spec[3])}

    write_jsonl(os.path.join(out, "concept.jsonl"), concepts)
    write_jsonl(os.path.join(out, "concept_hierarchy.jsonl"), hierarchy)
    with open(os.path.join(out, "concept_id_mapping.json"), "w") as f:
        json.dump(mapping, f)
    write_xlsx(os.path.join(out, "relationships.xlsx"), sheets, header)

    # expected outputs
    first_id = {}
    for c in concepts:
        first_id.setdefault(("Concept", sanitize(c["name"])), c["id"])
    # sheet_nodes/sheet_edges union per-sheet deduplicated rows; graph_edges
    # deduplicates sheet edges across sheets
    sheet_nodes, sheet_edge_rows, sheet_edges = 0, 0, set()
    for idx, (l1, (v1, i1), l2, (v2, i2), rel) in sorted(SHEETS.items()):
        keys, edges = set(), set()
        for row in sheets[idx][:live[idx]]:
            if i2 not in row:
                continue
            id1 = row.get(i1, "None")
            keys.add((l1, id1))
            keys.add((l2, row[i2]))
            edges.add((l1, id1, l2, row[i2], rel))
        sheet_nodes += len(keys)
        sheet_edge_rows += len(edges)
        sheet_edges |= edges
    enrich_ids = [c["id"] for c in concepts if c.get("semantic_type") != "Cancer-Numeric-Modifier"]
    enriched = [stub_model.enriched(i) for i in enrich_ids]
    graph_nodes = len(first_id) + sheet_nodes
    manifest = {
        "seed": seed,
        "concepts": n_concepts,
        "hierarchy_rows": len(hierarchy),
        "mapping_entries": len(mapping),
        "sheet_rows": sum(len(v) for v in sheets.values()),
        "stage_rows": {
            "concept_nodes": len(first_id),
            "hierarchy_edges": len(hierarchy),
            "sheet_nodes": sheet_nodes,
            "sheet_edges": sheet_edge_rows,
            "graph_nodes": graph_nodes,
            "graph_edges": len(hierarchy) + len(sheet_edges),
            "entity_ids": graph_nodes,
            "enriched": len(enrich_ids),
        },
        "entity_id_hits": sum(1 for i in first_id.values() if str(i) in mapping),
        "enrich_requests": len(enrich_ids),
        "enriched_nonempty": sum(1 for t, _ in enriched if t),
        "enriched_type_entries": sum(len(t) for t, _ in enriched),
        "load_rows": graph_nodes + len(hierarchy) + len(sheet_edges),
    }
    with open(os.path.join(out, "manifest.json"), "w") as f:
        json.dump(manifest, f, indent=1, sort_keys=True)


if __name__ == "__main__":
    main(sys.argv[1], int(sys.argv[2]), int(sys.argv[3]))
