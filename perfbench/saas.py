"""Seeded recorder of a Wrike/HubSpot/Xero-shaped API session.

``SaasSession(seed)`` draws one full-sync cycle followed by ``incremental``
change cycles and renders each cycle as the page payloads the engine's
``RecordedTransport`` replays.  Every record is nested the way the live
APIs nest them (task ``dates``, HubSpot ``properties`` and
``associations``, Xero ``LineItems`` and two-level ``BudgetLines``), and
each change cycle mixes updates, at-least-once redeliveries, stale
redeliveries, new keys and a fixed number of type-breaking rows.

The session also keeps the expected landed state: after cycle ``c``,
``expected[c]`` maps every table to ``{key: row}`` as the pipeline contract
defines it (flatten, unnest, typed projection, newest-by-replication-key
upsert, quarantine of rows that fail their declared type).
"""

from __future__ import annotations

import copy
import random
from datetime import datetime, timedelta, timezone

T0 = datetime(2024, 1, 1, tzinfo=timezone.utc)

# -- catalog: JSON schemas of the landed tables ------------------------------

S = {"type": ["null", "string"]}
TS = {"type": ["null", "string"], "format": "date-time"}
NUM = {"type": ["null", "number"]}
INT = {"type": ["null", "integer"]}
BOOL = {"type": ["null", "boolean"]}


def _schema(**props) -> dict:
    return {"type": "object", "properties": props, "additionalProperties": False}


# table -> (json schema, key, replication key, parent table)
TABLES: dict[str, tuple[dict, str, str | None, str | None]] = {
    "tasks": (_schema(id={"type": "string"}, accountId=S, title=S, status=S, importance=S,
                      createdDate=TS, updatedDate=TS, completedDate=TS,
                      **{"dates-type": S, "dates-duration": INT, "dates-start": S,
                         "dates-due": S}, customStatusId=S),
              "id", "updatedDate", None),
    "contacts": (_schema(id={"type": "string"}, firstName=S, lastName=S, type=S,
                         deleted=BOOL, primaryEmail=S, timezone=S),
                 "id", None, None),
    "contacts_profiles": (_schema(id={"type": "string"}, parent_id=S, accountId=S, email=S,
                                  role=S, external=BOOL, admin=BOOL, owner=BOOL),
                          "id", None, "contacts"),
    "deals": (_schema(id={"type": "string"}, amount=NUM, dealname=S, dealstage=S, pipeline=S,
                      closedate=TS, hubspot_owner_id=S, createdAt=TS, updatedAt=TS,
                      archived=BOOL),
              "id", "updatedAt", None),
    "deals_companies": (_schema(id={"type": "string"}, parent_id=S, companies_id=S,
                                companies_type=S), "id", None, "deals"),
    "deals_contacts": (_schema(id={"type": "string"}, parent_id=S, contacts_id=S,
                               contacts_type=S), "id", None, "deals"),
    "invoices": (_schema(InvoiceID={"type": "string"}, Type=S, Status=S,
                         **{"Contact-ContactID": S, "Contact-Name": S},
                         Total=NUM, Date=S, UpdatedDateUTC=TS),
                 "InvoiceID", "UpdatedDateUTC", None),
    "invoices_lines": (_schema(id={"type": "string"}, parent_id=S, LineItemID=S,
                               Description=S, Quantity=NUM, UnitAmount=NUM, AccountCode=S),
                       "id", None, "invoices"),
    "budgets": (_schema(BudgetID={"type": "string"}, Status=S, Type=S, Description=S,
                        UpdatedDateUTC=TS),
                "BudgetID", "UpdatedDateUTC", None),
    "budgets_lines": (_schema(ID={"type": "string"}, parent_id=S, AccountID=S,
                              AccountCode=S, Period=S, Amount=NUM, Notes=S),
                      "ID", None, "budgets"),
}

# pipeline -> stream -> tables it lands
PIPELINES = {
    "wrike": {"tasks": ["tasks"], "contacts": ["contacts", "contacts_profiles"]},
    "hubspot": {"deals": ["deals", "deals_companies", "deals_contacts"]},
    "xero": {"invoices": ["invoices", "invoices_lines"], "budgets": ["budgets", "budgets_lines"]},
}
BAD_PER_CYCLE = {"tasks": 2, "deals": 1, "invoices": 1}
BUDGET_WINDOWS = (("2023-01-01", "2024-01-01"), ("2024-01-01", "2025-01-01"))
BUDGET_FINAL = datetime(2025, 1, 1)
# page sizes of the reference taps (SURVEY.md section 6: Wrike 1000 records
# per request, HubSpot 100); Xero pages by number, 100 invoices a page
PAGE = {"tasks": 1000, "deals": 100, "invoices": 100}


def iso(dt: datetime) -> str:
    return dt.strftime("%Y-%m-%dT%H:%M:%S.") + f"{dt.microsecond // 1000:03d}Z"


class SaasSession:
    """Recorded API traffic plus the expected landed state per cycle."""

    def __init__(self, seed: int, incremental: int = 3, scale: float = 1.0) -> None:
        self.rng = random.Random(seed)
        self.scale = scale
        self.n_cycles = incremental + 1
        self.cycle = 0
        self.live: dict[str, dict[str, dict]] = {s: {} for s in
                                                 ("tasks", "contacts", "deals", "invoices",
                                                  "budgets")}
        self.seq = {s: 0 for s in self.live}
        self.state: dict[str, dict[str, dict]] = {t: {} for t in TABLES}
        self.recordings: list[dict[str, dict]] = []  # cycle -> pipeline -> recording
        self.budget_keys: list[list[str]] = []
        self.delivered_rows: list[int] = []
        self.expected: list[dict[str, dict[str, dict]]] = []
        self.max_key: dict[str, str] = {}
        self.deal_bookmarks: list[str] = []  # expected max-key bookmark per cycle
        for c in range(self.n_cycles):
            self.cycle = c
            self._cycle()

    # -- helpers -----------------------------------------------------------

    def _n(self, k: float) -> int:
        return max(1, int(round(k * self.scale)))

    def _ts(self) -> str:
        """A timestamp inside the current cycle's day, strictly after any
        earlier cycle's."""
        return iso(T0 + timedelta(days=self.cycle, seconds=self.rng.uniform(60, 80_000)))

    def _new_id(self, stream: str, prefix: str) -> str:
        self.seq[stream] += 1
        return f"{prefix}{self.seq[stream]:06d}"

    def _word(self) -> str:
        return self.rng.choice(["alpha", "beta", "gamma", "delta", "omega", "kappa", "sigma"])

    # -- record makers -------------------------------------------------------

    def _task(self, tid: str) -> dict:
        r = self.rng
        created = T0 - timedelta(days=r.randint(5, 400), seconds=r.randint(0, 86_000))
        status = r.choice(["Active", "Completed", "Completed", "Deferred", "Cancelled"])
        rec = {
            "id": tid, "accountId": "ACC1",
            "title": f"{r.choice(['Proposal', 'Quote', 'Task', 'Review'])} {self._word()} {tid}",
            "status": status, "importance": r.choice(["High", "Normal", "Low"]),
            "createdDate": iso(created), "updatedDate": self._ts(),
            "dates": {"type": "Planned", "duration": r.randint(60, 9600),
                      "start": (created + timedelta(days=1)).strftime("%Y-%m-%d"),
                      "due": (created + timedelta(days=r.randint(2, 90))).strftime("%Y-%m-%d")},
            "scope": "WsTask", "customStatusId": f"CS{r.randint(1, 9)}",
            "metadata": [{"key": "src", "value": "api"}],
            "droppedByProjection": "x",
        }
        if status == "Completed":
            rec["completedDate"] = iso(created + timedelta(days=r.randint(1, 60),
                                                           seconds=r.randint(0, 86_000)))
        return rec

    def _touch_task(self, rec: dict) -> dict:
        rec = copy.deepcopy(rec)
        r = self.rng
        rec["updatedDate"] = self._ts()
        rec["importance"] = r.choice(["High", "Normal", "Low"])
        rec["dates"]["duration"] = r.randint(60, 9600)
        if rec["status"] != "Completed" and r.random() < 0.5:
            rec["status"] = "Completed"
            rec["completedDate"] = iso(datetime.fromisoformat(
                rec["createdDate"].replace("Z", "+00:00")) + timedelta(days=r.randint(1, 60)))
        return rec

    def _contact(self, cid: str) -> dict:
        r = self.rng
        return {
            "id": cid, "firstName": r.choice(["Ada", "Grace", "Alan", "Edsger", "Barbara"]),
            "lastName": f"L{r.randint(1, 999)}", "type": "Person", "deleted": False,
            "primaryEmail": f"{cid.lower()}@example.com", "timezone": "UTC",
            "profiles": [{"accountId": f"A{k}", "email": f"{cid.lower()}@a{k}.example",
                          "role": r.choice(["User", "Collaborator"]), "external": r.random() < 0.2,
                          "admin": r.random() < 0.1, "owner": False}
                         for k in range(r.randint(0, 3))],
        }

    def _deal(self, did: str) -> dict:
        r = self.rng
        return {
            "id": did,
            "properties": {"amount": round(r.uniform(100, 90_000), 2), "dealname": f"Deal {did}",
                           "dealstage": r.choice(["appointmentscheduled", "closedwon",
                                                  "closedlost", "contractsent"]),
                           "pipeline": "default",
                           "closedate": iso(T0 + timedelta(days=r.randint(1, 200))),
                           "hubspot_owner_id": f"O{r.randint(1, 40)}"},
            "createdAt": iso(T0 - timedelta(days=r.randint(1, 300))),
            "updatedAt": self._ts(), "archived": False,
            "associations": {
                "companies": {"results": [{"id": f"CO{r.randint(1, 500):06d}",
                                           "type": "deal_to_company"}
                                          for _ in range(r.randint(1, 2))]},
                "contacts": {"results": [{"id": f"C{r.randint(1, 900):06d}",
                                          "type": "deal_to_contact"}
                                         for _ in range(r.randint(1, 2))]},
            },
        }

    def _touch_deal(self, rec: dict) -> dict:
        rec = copy.deepcopy(rec)
        rec["updatedAt"] = self._ts()
        rec["properties"]["amount"] = round(self.rng.uniform(100, 90_000), 2)
        rec["properties"]["dealstage"] = self.rng.choice(["closedwon", "closedlost"])
        rec["associations"]["contacts"]["results"].append(
            {"id": f"C{self.rng.randint(1, 900):06d}", "type": "deal_to_contact"})
        return rec

    def _invoice(self, iid: str) -> dict:
        r = self.rng
        lines = [{"LineItemID": f"{iid}-L{k}", "Description": f"item {r.randint(1, 99)}",
                  "Quantity": float(r.randint(1, 20)), "UnitAmount": round(r.uniform(5, 900), 2),
                  "AccountCode": str(r.choice([200, 310, 400, 429]))}
                 for k in range(r.randint(1, 4))]
        return {"InvoiceID": iid, "Type": "ACCREC", "Status": r.choice(["AUTHORISED", "PAID"]),
                "Contact": {"ContactID": f"XC{r.randint(1, 300)}", "Name": f"Buyer {r.randint(1, 300)}"},
                "Total": round(sum(ln["Quantity"] * ln["UnitAmount"] for ln in lines), 2),
                "Date": (T0 - timedelta(days=r.randint(0, 365))).strftime("%Y-%m-%d"),
                "UpdatedDateUTC": self._ts(), "LineItems": lines}

    def _budget(self, bid: str) -> dict:
        r = self.rng
        lines = []
        for code in ("200", "400", "429"):
            lines.append({"AccountID": f"{bid}-{code}", "AccountCode": code,
                          "BudgetBalances": [{"Period": f"{y}-{m:02d}",
                                              "Amount": round(r.uniform(0, 5000), 2),
                                              "Notes": r.choice(["", "q-end", "plan"])}
                                             for y in (2023, 2024) for m in range(1, 13)]})
        return {"BudgetID": bid, "Status": "ACTIVE", "Type": "TRACKING",
                "Description": f"Budget {bid}", "UpdatedDateUTC": self._ts(),
                "BudgetLines": lines}

    # -- one cycle -------------------------------------------------------------

    def _cycle(self) -> None:
        full = self.cycle == 0
        r = self.rng
        sent: dict[str, list[dict]] = {}
        bad: dict[str, list[dict]] = {}

        def changes(stream, make, touch, n_new, n_upd, n_redeliver, n_stale=0, prefix=""):
            live = self.live[stream]
            keys = sorted(live)
            out = []
            stale = [copy.deepcopy(live[k]) for k in r.sample(keys, min(n_stale, len(keys)))]
            for k in r.sample(keys, min(n_upd, len(keys))):
                live[k] = touch(live[k])
                out.append(live[k])
            out += [copy.deepcopy(live[k]) for k in r.sample(keys, min(n_redeliver, len(keys)))]
            for _ in range(n_new):
                k = self._new_id(stream, prefix)
                live[k] = make(k)
                out.append(live[k])
            # stale copies (an older version re-sent after the update)
            return out + stale

        s = 0 if full else 1
        sent["tasks"] = changes("tasks", self._task, self._touch_task,
                                self._n(1200) if full else self._n(25),
                                self._n(40) * s, self._n(15) * s, self._n(5) * s, "T")
        # the contacts resource is a full-table scan: every contact, every cycle
        for k in r.sample(sorted(self.live["contacts"]), min(self._n(8), len(self.live["contacts"]))):
            old = self.live["contacts"][k]
            new = self._contact(k)
            new["profiles"] = old["profiles"] + new["profiles"][:1]
            seen = set()
            new["profiles"] = [p for p in new["profiles"]
                               if not (p["accountId"] in seen or seen.add(p["accountId"]))]
            self.live["contacts"][k] = new
        for _ in range(self._n(250) if full else self._n(4)):
            k = self._new_id("contacts", "C")
            self.live["contacts"][k] = self._contact(k)
        sent["contacts"] = [copy.deepcopy(v) for _, v in sorted(self.live["contacts"].items())]
        sent["deals"] = changes("deals", self._deal, self._touch_deal,
                                self._n(600) if full else self._n(15),
                                self._n(25) * s, self._n(10) * s, 0, "D")
        sent["invoices"] = changes("invoices", self._invoice,
                                   lambda rec: {**self._invoice(rec["InvoiceID"]),
                                                "Contact": rec["Contact"]},
                                   self._n(400) if full else self._n(10),
                                   self._n(15) * s, self._n(5) * s, 0, "I")
        for k in r.sample(sorted(self.live["budgets"]), min(2, len(self.live["budgets"]))):
            b = copy.deepcopy(self.live["budgets"][k])
            b["UpdatedDateUTC"] = self._ts()
            for line in b["BudgetLines"]:
                line["BudgetBalances"][r.randrange(24)]["Amount"] = round(r.uniform(0, 5000), 2)
            self.live["budgets"][k] = b
        if full:
            for _ in range(self._n(12)):
                k = self._new_id("budgets", "B")
                self.live["budgets"][k] = self._budget(k)
        budget_keys = sorted(self.live["budgets"])

        # type-breaking rows: new keys whose value fails the declared type
        for i in range(BAD_PER_CYCLE["tasks"]):
            rec = self._task(f"TX{self.cycle:02d}{i}")
            rec["dates"]["duration"] = "n/a"
            bad.setdefault("tasks", []).append(rec)
        for i in range(BAD_PER_CYCLE["deals"]):
            rec = self._deal(f"DX{self.cycle:02d}{i}")
            rec["properties"]["amount"] = "1,250.00 EUR"
            bad.setdefault("deals", []).append(rec)
        for i in range(BAD_PER_CYCLE["invoices"]):
            rec = self._invoice(f"IX{self.cycle:02d}{i}")
            rec["Total"] = "N/A"
            bad.setdefault("invoices", []).append(rec)
        for stream, rows in bad.items():
            sent[stream] = sent[stream] + rows
            r.shuffle(sent[stream])

        self._record(sent, budget_keys)
        self._apply(sent, bad, budget_keys)

    # -- rendering as API pages -------------------------------------------------

    def _record(self, sent: dict[str, list[dict]], budget_keys: list[str]) -> None:
        def token_pages(rows, size):
            pages = []
            for i in range(0, max(len(rows), 1), size):
                chunk = rows[i:i + size]
                page = {"data": chunk, "responseSize": len(chunk)}
                if i + size < len(rows):
                    page["nextPageToken"] = f"tok{i + size}"
                pages.append(page)
            return pages

        def cursor_pages(rows, size):
            pages = []
            for i in range(0, max(len(rows), 1), size):
                page = {"results": rows[i:i + size]}
                if i + size < len(rows):
                    page["paging"] = {"next": {"after": str(i + size)}}
                pages.append(page)
            return pages

        def numbered_pages(rows, size):
            chunks = [rows[i:i + size] for i in range(0, max(len(rows), 1), size)]
            return [{"Invoices": c, "pagination": {"page": n + 1, "pageCount": len(chunks)}}
                    for n, c in enumerate(chunks)]

        budgets = {}
        for k in budget_keys:
            b = self.live["budgets"][k]
            pages = []
            for lo, hi in BUDGET_WINDOWS:
                w = copy.deepcopy(b)
                for line in w["BudgetLines"]:
                    line["BudgetBalances"] = [x for x in line["BudgetBalances"]
                                              if lo[:7] <= x["Period"] < hi[:7]]
                pages.append({"Budgets": [w]})
            budgets[f"Budgets/{k}"] = pages
        self.recordings.append({
            "wrike": {"tasks": token_pages(sent["tasks"], PAGE["tasks"]),
                      "contacts": [{"data": sent["contacts"]}]},
            "hubspot": {"crm/v3/objects/deals": cursor_pages(sent["deals"], PAGE["deals"])},
            "xero": {"Invoices": numbered_pages(sent["invoices"], PAGE["invoices"]), **budgets},
        })
        self.budget_keys.append(budget_keys)
        self.delivered_rows.append(sum(len(v) for v in sent.values())
                                   + 2 * len(budget_keys))

    # -- the expected landed state ------------------------------------------------

    def _apply(self, sent, bad, budget_keys) -> None:
        bad_ids = {id(x) for rows in bad.values() for x in rows}
        batches: dict[str, list[dict]] = {t: [] for t in TABLES}
        prev_bookmark = self.max_key.get("deals")
        for p in sent["tasks"]:
            if id(p) in bad_ids:
                continue
            d = p["dates"]
            batches["tasks"].append({
                "id": p["id"], "accountId": p["accountId"], "title": p["title"],
                "status": p["status"], "importance": p["importance"],
                "createdDate": p["createdDate"], "updatedDate": p["updatedDate"],
                "completedDate": p.get("completedDate"), "dates-type": d["type"],
                "dates-duration": d["duration"], "dates-start": d["start"],
                "dates-due": d["due"], "customStatusId": p["customStatusId"]})
        for c in sent["contacts"]:
            batches["contacts"].append({k: c[k] for k in ("id", "firstName", "lastName", "type",
                                                          "deleted", "primaryEmail", "timezone")})
            for p in c["profiles"]:
                batches["contacts_profiles"].append({"id": f"{c['id']}_{p['accountId']}",
                                                     "parent_id": c["id"], **p})
        for dl in sent["deals"]:
            for assoc in ("companies", "contacts"):
                for a in dl["associations"][assoc]["results"]:
                    batches[f"deals_{assoc}"].append({
                        "id": f"{dl['id']}_{a['id']}", "parent_id": dl["id"],
                        f"{assoc}_id": a["id"], f"{assoc}_type": a["type"]})
            # client-side bookmark filter: strictly newer than the old max key
            if id(dl) in bad_ids or (prev_bookmark and dl["updatedAt"] <= prev_bookmark):
                continue
            batches["deals"].append({"id": dl["id"], **dl["properties"],
                                     "createdAt": dl["createdAt"], "updatedAt": dl["updatedAt"],
                                     "archived": dl["archived"]})
        self.max_key["deals"] = max([dl["updatedAt"] for dl in sent["deals"]]
                                    + ([prev_bookmark] if prev_bookmark else []))
        self.deal_bookmarks.append(self.max_key["deals"])
        for inv in sent["invoices"]:
            for ln in inv["LineItems"]:
                batches["invoices_lines"].append({"id": f"{inv['InvoiceID']}_{ln['LineItemID']}",
                                                  "parent_id": inv["InvoiceID"], **ln})
            if id(inv) in bad_ids:
                continue
            batches["invoices"].append({
                "InvoiceID": inv["InvoiceID"], "Type": inv["Type"], "Status": inv["Status"],
                "Contact-ContactID": inv["Contact"]["ContactID"],
                "Contact-Name": inv["Contact"]["Name"], "Total": inv["Total"],
                "Date": inv["Date"], "UpdatedDateUTC": inv["UpdatedDateUTC"]})
        for k in budget_keys:
            b = self.live["budgets"][k]
            batches["budgets"].append({c: b[c] for c in ("BudgetID", "Status", "Type",
                                                         "Description", "UpdatedDateUTC")})
            for line in b["BudgetLines"]:
                for bal in line["BudgetBalances"]:
                    batches["budgets_lines"].append({
                        "ID": f"{k}_{line['AccountCode']}_{bal['Period']}", "parent_id": k,
                        "AccountID": line["AccountID"], "AccountCode": line["AccountCode"],
                        **bal})
        for table, rows in batches.items():
            _, key, rk, _ = TABLES[table]
            state = self.state[table]
            for row in rows:
                old = state.get(row[key])
                if rk and old is not None and old[rk] is not None and (
                        row[rk] is None or row[rk] < old[rk]):
                    continue  # the landed row is newer: the stale copy loses
                state[row[key]] = row
        self.expected.append(copy.deepcopy(self.state))
