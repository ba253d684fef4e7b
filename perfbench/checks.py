"""Correctness checks: the program's outputs, as the JVM side recorded them,
against the invariants the generator computed from the inputs. Each check
returns a list of error strings; an empty list means the output is right."""


def _cents(x):
    return round(x * 100)


def check_close(rec, inv):
    """One nightly close's RunReport."""
    errs = []
    if rec.get("status") != "success":
        errs.append(f"status {rec.get('status')!r}")
    if rec.get("total_transactions") != inv["transactions"]:
        errs.append(f"total_transactions {rec.get('total_transactions')} != {inv['transactions']}")
    if rec.get("matching_records_count") != inv["matched"]:
        errs.append(f"matching_records_count {rec.get('matching_records_count')} != {inv['matched']}")
    for t in ("earned", "spent", "expired"):
        got, want = _cents(rec.get(f"total_{t}", 0.0)), inv[f"{t}_cents"]
        if got != want:
            errs.append(f"total_{t} {got} cents != {want}")
    return errs


def check_lookup(rec, expected):
    """One lookup against the generator's answer, where it predicts one."""
    exp = expected[rec["idx"]]
    if exp["kind"] != rec["kind"]:
        return [f"lookup {rec['idx']}: kind {rec['kind']} != {exp['kind']}"]
    if "balances" in exp and rec.get("balances") != exp["balances"]:
        return [f"lookup {rec['idx']} (Q{exp['kind']}): {rec.get('balances')} != {exp['balances']}"]
    if "rows" in exp and rec.get("rows") != exp["rows"]:
        return [f"lookup {rec['idx']} (Q{exp['kind']}): {rec.get('rows')} rows != {exp['rows']}"]
    return []


def check_replay(rec, inv, batch):
    """One replay: matched count equals the generator's sum over customers of
    min(earned, spent + expired), and the (TRANS_ID, REDEEMID) pairs equal
    the batch matcher's."""
    errs = []
    if rec.get("matched") != inv["matched"]:
        errs.append(f"matched {rec.get('matched')} != {inv['matched']}")
    if batch.get("batch_matched") != inv["matched"]:
        errs.append(f"batch matcher matched {batch.get('batch_matched')} != {inv['matched']}")
    if rec.get("pair_hash") != batch.get("batch_pair_hash"):
        errs.append("replayed pairs differ from the batch matcher's")
    return errs


def check_corpus(rec, first, inv):
    """One corpus operation: every gate non-empty, of the shape its
    parameters fix, and equal to the first operation's output."""
    errs = []
    for gate, out in rec.items():
        if out["rows"] == 0:
            errs.append(f"{gate}: empty output")
        want = inv["gate_rows"].get(gate)
        if want is not None and out["rows"] != want:
            errs.append(f"{gate}: {out['rows']} rows != {want}")
        if first is not None and out != first.get(gate):
            errs.append(f"{gate}: output differs from the first operation's")
    return errs


def check_run(workload, result, inv):
    """(attempted, failed, errors) over every operation of one run. An
    operation that raised, or whose output fails its check, is failed."""
    attempted = failed = 0
    errors = []
    first_corpus = None
    for op in result["ops"]:
        attempted += 1
        rec = op["check"]
        if op["error"]:
            errs = [op["error"]]
        elif workload == "balance_lookups":
            errs = check_close(rec, inv) if rec.get("close") else check_lookup(rec, inv["lookups"])
        elif workload == "intraday_replay":
            errs = check_replay(rec, inv, result["checks"])
        elif workload == "corpus_prep":
            errs = check_corpus(rec, first_corpus, inv)
            first_corpus = first_corpus or rec
        else:
            errs = [f"unknown workload {workload}"]
        if errs:
            failed += 1
            errors.extend(errs)
    return attempted, failed, errors
