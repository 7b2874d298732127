"""CRM export pipelines re-expressed as pure ``DataFrame → DataFrame``
functions (SURVEY §7 steps 3–4).

Each function mirrors one reference export's semantics — same output
column names, same quirks — with I/O kept outside (sources feed in,
sinks consume the result), so every pipeline is unit-testable on
fixtures.

**Dim-size contract (broadcast gating).** The reference realizes every
lookup join as an in-memory dict probe
(/root/reference/modules/opportunity.py:128-147), which is only sound
because its dims (users, organisations, stages, …) are
dimension-sized. Each join-bearing export takes ``broadcast_dims``
(default True = reference-faithful: dims fit one executor, so the dim
joins do not shuffle; the per-parent groupBys and the final
dropDuplicates still exchange). Callers whose "dim"
inputs scale with the fact side — e.g. the oracle-parity registry
queries, which derive dims from customer/supplier frames that grow
with SF — MUST pass ``broadcast_dims=False``; the joins then carry no
hint and AQE picks broadcast vs shuffle from observed sizes at
runtime, so a 100× scale-up cannot force a multi-GB broadcast.

Quirks preserved (SURVEY §2.9):
- Q1 invoice: ``Site_Organization__c`` is read then overwritten by
  ``Site_Name_Invoice__c`` before use (invoice.py:172-179) — the
  effective site key is ``Site_Name_Invoice__c``; we implement the
  effective behavior.
- Q2 opportunity: "Expected Revenue" duplicates OPPORTUNITY_VALUE.
- Q3 quote: ``str(cf.get("Sales_Person__c", ""))`` emits the literal
  ``'None'`` when the field exists with a null value (quote.py:215).
- Q4 invoice: ``format_owner_for_invoice`` documents 'Name||ID||User'
  but actually returns the 'ID;Name' composite unchanged
  (invoice.py:128-135); equipment's ``format_org_owner_site`` does emit
  'Name||ID||User' (equiment.py:104-111).
- Q5 task: later links overwrite earlier ones per type, and an
  Opportunity link back-fills the linked organisation from the
  opportunity's org unless a later Organisation link overrides it
  (task.py:223-246).
- Q7: dropDuplicates runs on the fully-formatted output, not raw rows.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from magshield_data_pipeline_spark.functions import scalars as S
from magshield_data_pipeline_spark.sources.parquet import ensure_runtime_confs

# ---------------------------------------------------------------------------
# shared helpers

def _ensure_confs(df: DataFrame) -> None:
    """Exports are pure functions usable from ANY caller session (no
    read_table in the path), but the CUSTOMFIELDS map build needs
    LAST_WIN dedup and date formatting needs UTC — set the runtime
    confs from the input frame's own session."""
    ensure_runtime_confs(df.sparkSession)



def _dim(df: DataFrame, hint: bool) -> DataFrame:
    """Apply the broadcast hint only under the dim-size contract (module
    header): ``hint=False`` leaves join-strategy choice to AQE."""
    return F.broadcast(df) if hint else df


def _cf(col: str = "CUSTOMFIELDS") -> Column:
    return S.custom_fields_map(col)


def _cf_str_none(m: Column, key: str) -> Column:
    """Q3 — ``str(cf.get(key, ""))``: missing key → '', present-but-null
    value → the literal string 'None'."""
    return (
        F.when(~F.map_contains_key(m, F.lit(key)), F.lit(""))
        .when(F.element_at(m, F.lit(key)).isNull(), F.lit("None"))
        .otherwise(F.element_at(m, F.lit(key)))
    )


def _cf_fallback(m: Column, key: str, fallback: Column) -> Column:
    """``cf.get(key, fallback)`` — the fallback applies only when the KEY
    is missing, not when its value is empty (quote.py:212)."""
    return F.when(
        F.map_contains_key(m, F.lit(key)), F.element_at(m, F.lit(key))
    ).otherwise(fallback)


def _first_nonempty(*cols: Column) -> Column:
    """Python ``a or b or ""`` chain: skip null AND empty-string values."""
    return F.coalesce(*[F.nullif(c, F.lit("")) for c in cols], F.lit(""))


def _user_composite(first: str = "FIRST_NAME", last: str = "LAST_NAME",
                    uid: str = "USER_ID") -> Column:
    """'USER_ID;First Last' — f-string semantics, no strip
    (invoice.py:101-106, task.py:186-189)."""
    return F.concat(
        F.col(uid).cast("string"),
        F.lit(";"),
        F.coalesce(F.col(first), F.lit("")),
        F.lit(" "),
        F.coalesce(F.col(last), F.lit("")),
    )


def _full_name(first: str = "FIRST_NAME", last: str = "LAST_NAME") -> Column:
    """'First Last' — f-string, no strip (task.py:190-197)."""
    return F.concat(
        F.coalesce(F.col(first), F.lit("")),
        F.lit(" "),
        F.coalesce(F.col(last), F.lit("")),
    )


# ---------------------------------------------------------------------------
# users export — /root/reference/modules/users.py:113-142 (P2 + A4)

_USER_COLS = [
    "USER_ID", "CONTACT_ID", "FIRST_NAME", "LAST_NAME", "TIMEZONE_ID",
    "EMAIL_ADDRESS", "EMAIL_DROPBOX_IDENTIFIER", "EMAIL_DROPBOX_ADDRESS",
    "ADMINISTRATOR", "ACCOUNT_OWNER", "ACTIVE", "DATE_CREATED_UTC",
    "DATE_UPDATED_UTC", "USER_CURRENCY", "CONTACT_DISPLAY", "CONTACT_ORDER",
    "TASK_WEEK_START", "INSTANCE_ID", "PROFILE_ID", "ROLE_ID",
]


def users_export(users: DataFrame) -> DataFrame:
    """Pure projection + full-row dedup; column order as the reference
    emits it."""
    return users.select(*_USER_COLS).dropDuplicates()


# ---------------------------------------------------------------------------
# organisation export — /root/reference/modules/organisation.py:120-144
# (P1 map, F9 conditional count, F3 date, P5 bool-truthiness)


def organisation_export(orgs: DataFrame) -> DataFrame:
    _ensure_confs(orgs)
    cf = _cf()
    # P5: bool(cf.get("Active__c", False)) — Python truthiness of the
    # string value: any non-empty string (even 'False') is True
    focus = S.truthy_str(F.element_at(cf, F.lit("Active__c")))
    return orgs.select(
        F.col("ORGANISATION_ID").alias("Organization ID"),
        S.clean_text(S.coalesce_str("ORGANISATION_NAME")).alias("Organization Name"),
        S.format_date_only(S.coalesce_str("DATE_CREATED_UTC")).alias("Date Created"),
        S.conditional_link_count("LINKS", "Contact").alias("Linked Contacts Count"),
        focus.alias("Focus Organization"),
        S.cf_get(cf, "Call_Frequency__c").alias("Call Frequency"),
        S.cf_get(cf, "Industry__c").alias("Industry"),
        S.cf_get(cf, "Region__c").alias("Region"),
        S.cf_get(cf, "Sales_Methodology_Type__c").alias("Customer Type"),
        S.cf_get(cf, "Organization_Type__c").alias("Organization Type"),
        S.coalesce_str("ADDRESS_BILLING_COUNTRY").alias("Billing Country"),
    ).dropDuplicates()


# ---------------------------------------------------------------------------
# quote export — /root/reference/modules/quote.py:195-242
# (J1-J3 broadcast lookups, P4 coalesce-across-sources, F2 dates, Q3)


def quote_export(
    quotes: DataFrame,
    opportunities: DataFrame,
    organisations: DataFrame,
    contacts: DataFrame,
    broadcast_dims: bool = True,
) -> DataFrame:
    _ensure_confs(quotes)
    cf = _cf()
    q = quotes.withColumn("_cf", cf)
    opp = _dim(
        opportunities.select(
            F.col("OPPORTUNITY_ID").alias("_opp_id"),
            F.col("OPPORTUNITY_NAME").alias("_opp_name"),
        ),
        broadcast_dims,
    )
    org = _dim(
        organisations.select(
            F.col("ORGANISATION_ID").alias("_org_id"),
            F.col("ORGANISATION_NAME").alias("_org_name"),
        ),
        broadcast_dims,
    )
    # sales person joins on the custom-field value (J3); the reference's
    # fetch_contact strips the full name (quote.py:122-131)
    con = _dim(
        contacts.select(
            F.col("CONTACT_ID").alias("_con_id"),
            F.trim(_full_name()).alias("_con_name"),
        ),
        broadcast_dims,
    )
    joined = (
        q.join(opp, q["OPPORTUNITY_ID"] == opp["_opp_id"], "left")
        .join(org, q["ORGANISATION_ID"] == org["_org_id"], "left")
        .join(
            con,
            F.element_at(F.col("_cf"), F.lit("Sales_Person__c")).try_cast("bigint")
            == con["_con_id"],
            "left",
        )
    )
    m = F.col("_cf")
    return joined.select(
        F.col("QUOTE_ID").alias("Record ID"),
        F.col("QUOTATION_NUMBER").alias("Quote Number"),
        F.col("QUOTE_STATUS").alias("Status"),
        F.col("QUOTATION_NAME").alias("Quote Name"),
        F.col("SUBTOTAL").alias("Subtotal"),
        F.col("TOTAL_PRICE").alias("Total Price"),
        F.col("QUOTATION_EXPIRATION_DATE").alias("Expiration Date"),
        S.cf_get(m, "GST_Percentage__c").alias("GST %"),
        S.cf_get(m, "Tax__c").alias("Tax"),
        # fallback only when the key is missing (quote.py:212)
        _cf_fallback(m, "Grand_Total__c", F.col("GRAND_TOTAL").cast("string")).alias(
            "Grand Total"
        ),
        S.cf_get(m, "Trade_Tariff__c").alias("Trade Tariff"),
        S.cf_get(m, "Grand_Total_Tariff__c").alias("Grand Total w/ Tariff"),
        S.cf_get(m, "MagShield_Selling_Entity__c").alias("MagShield Selling Entity"),
        _cf_str_none(m, "Sales_Person__c").alias("Sales Person Id"),  # Q3
        S.coalesce_str("_con_name").alias("Sales Person"),
        F.col("ADDRESS_BILLING_COUNTRY").alias("Billing Country"),
        F.col("QUOTATION_CURRENCY_CODE").alias("Currency"),
        F.col("DISCOUNT").alias("Discount"),
        # P4: prefer the inline name, else the joined dim's name
        _first_nonempty(F.col("ORGANISATION_NAME"), F.col("_org_name")).alias(
            "Organization Name"
        ),
        F.col("ORGANISATION_ID").alias("Record ID_1"),
        S.format_date_quote(S.coalesce_str("DATE_CREATED_UTC")).alias("Date Created"),
        S.format_date_quote(S.coalesce_str("DATE_UPDATED_UTC")).alias("Date Updated"),
        _first_nonempty(F.col("OPPORTUNITY_NAME"), F.col("_opp_name")).alias(
            "Opportunity Name"
        ),
        S.cf_get(m, "Shipping_Terms__c").alias("Shipping_Terms__c"),
        S.coalesce_str("ADDRESS_SHIPPING_COUNTRY").alias("ADDRESS_SHIPPING_COUNTRY"),
    ).dropDuplicates()


# ---------------------------------------------------------------------------
# invoice export — /root/reference/modules/invoice.py:162-206
# (J13 struct-payload org dim ×3 roles, Q1, Q4, F4 dates)


def _org_struct_dim(organisations: DataFrame) -> DataFrame:
    """The invoice pipeline's org lookup carries a struct payload:
    name + two custom fields (invoice.py:108-120)."""
    cf = _cf()
    return organisations.select(
        F.col("ORGANISATION_ID").alias("_oid"),
        S.coalesce_str("ORGANISATION_NAME").alias("_oname"),
        S.cf_get(cf, "Organization_Type__c").alias("_otype"),
        S.cf_get(cf, "Region__c").alias("_oregion"),
    )


def invoice_export(
    invoices: DataFrame,
    users: DataFrame,
    organisations: DataFrame,
    broadcast_dims: bool = True,
) -> DataFrame:
    _ensure_confs(invoices)
    m = _cf()
    inv = invoices.withColumn("_cf", m)
    usr = _dim(
        users.select(F.col("USER_ID").alias("_uid"), _user_composite().alias("_owner")),
        broadcast_dims,
    )
    org = _org_struct_dim(organisations)

    def org_role(alias: str) -> DataFrame:
        return _dim(
            org.select(
                F.col("_oid").alias(f"{alias}_id"),
                F.col("_oname").alias(f"{alias}_name"),
                F.col("_otype").alias(f"{alias}_type"),
                F.col("_oregion").alias(f"{alias}_region"),
            ),
            broadcast_dims,
        )

    inv_org, site_org, chan_org = org_role("_inv"), org_role("_site"), org_role("_chan")
    cfv = lambda k: F.element_at(F.col("_cf"), F.lit(k))  # noqa: E731
    joined = (
        inv.join(usr, inv["OWNER_USER_ID"] == usr["_uid"], "left")
        .join(inv_org, cfv("Invoiced_Organization__c").try_cast("bigint") == F.col("_inv_id"), "left")
        # Q1: the effective site key is Site_Name_Invoice__c — the
        # reference assigns Site_Organization__c then overwrites it
        .join(site_org, cfv("Site_Name_Invoice__c").try_cast("bigint") == F.col("_site_id"), "left")
        .join(chan_org, cfv("Channel_Partner_Invoiced__c").try_cast("bigint") == F.col("_chan_id"), "left")
    )
    mm = F.col("_cf")
    ct = lambda c: S.clean_text(S.coalesce_str(c))  # noqa: E731
    cfc = lambda k: S.clean_text(S.cf_get(mm, k))  # noqa: E731
    return joined.select(
        ct("RECORD_NAME").alias("Invoice Number"),
        F.col("RECORD_ID").alias("Record ID"),
        # Q4: format_owner_for_invoice returns the 'ID;Name' composite
        # unchanged despite its docstring
        ct("_owner").alias("Owner"),
        S.format_date_ui(S.cf_get(mm, "Invoice_Date__c")).alias("Invoice Date"),
        cfc("Invoiced_Item__c").alias("Item ID"),
        cfc("Invoiced_Amount__c").alias("Invoiced Amount"),
        cfc("Invoice_Currency__c").alias("Invoice Currency"),
        cfc("PO_Number__c").alias("PO Number"),
        cfc("Item_Quantity__c").alias("Item Quantity"),
        cfc("Invoiced_Product_Type__c").alias("Product Type"),
        cfc("Invoiced_Product_for_Equipment_Type__c").alias("Equipment Type"),
        ct("_inv_name").alias("Entity Owning Equipment"),
        ct("_inv_type").alias("Organization Type"),
        ct("_inv_region").alias("Region"),
        ct("_site_name").alias("Site Name"),
        ct("_site_type").alias("Organization Type_1"),
        ct("_site_region").alias("Region_2"),
        ct("_chan_name").alias("Channel Partner"),
        ct("_chan_type").alias("Organization Type_3"),
        ct("_chan_region").alias("Region_4"),
        cfc("Invoice_Num__c").alias("Invoice #"),
        cfc("Invoiced_Amount_in_CAD__c").alias("Invoiced Amount in CAD"),
    ).dropDuplicates()


# ---------------------------------------------------------------------------
# equipment export — /root/reference/modules/equiment.py:136-168
# (J14 lookups, F7 'Name||ID||User' key)


def equipment_export(
    equipment: DataFrame,
    users: DataFrame,
    organisations: DataFrame,
    broadcast_dims: bool = True,
) -> DataFrame:
    _ensure_confs(equipment)
    m = _cf()
    eq = equipment.withColumn("_cf", m)
    usr = _dim(
        users.select(F.col("USER_ID").alias("_uid"), _user_composite().alias("_owner")),
        broadcast_dims,
    )
    org = _dim(
        organisations.select(
            F.col("ORGANISATION_ID").alias("_oid"),
            S.coalesce_str("ORGANISATION_NAME").alias("_oname"),
        ),
        broadcast_dims,
    )
    cfv = lambda k: F.element_at(F.col("_cf"), F.lit(k))  # noqa: E731
    joined = (
        eq.join(usr, eq["OWNER_USER_ID"] == usr["_uid"], "left")
        .join(
            org.select(
                F.col("_oid").alias("_ent_id"), F.col("_oname").alias("_ent_name")
            ),
            cfv("Entity_Owning_Equipment_Equipment__c").try_cast("bigint") == F.col("_ent_id"),
            "left",
        )
        .join(
            org.select(
                F.col("_oid").alias("_site_id"), F.col("_oname").alias("_site_name")
            ),
            cfv("Site_Name_Equipment__c").try_cast("bigint") == F.col("_site_id"),
            "left",
        )
    )
    mm = F.col("_cf")
    # 'First Last||USER_ID||User' from the 'ID;First Last' composite —
    # '' when there is no owner composite (equiment.py:104-111)
    owner_site = F.when(
        F.col("_owner").isNull() | (F.col("_owner") == ""), F.lit("")
    ).otherwise(
        F.concat_ws(
            "||",
            S.split_part(F.col("_owner"), ";", 1),
            S.split_part(F.col("_owner"), ";", 0),
            F.lit("User"),
        )
    )
    cfc = lambda k: S.clean_text(S.cf_get(mm, k))  # noqa: E731
    return joined.select(
        F.col("RECORD_ID").alias("Record ID"),
        S.clean_text(S.coalesce_str("RECORD_NAME")).alias("Equipment Mine - Make - Model"),
        S.clean_text(S.coalesce_str("_owner")).alias("Owner"),
        F.col("DATE_CREATED_UTC").alias("Date Created"),
        F.col("DATE_UPDATED_UTC").alias("Date Updated"),
        _cf_str_none(mm, "Entity_Owning_Equipment_Equipment__c").alias("Record ID_1"),
        S.clean_text(S.coalesce_str("_ent_name")).alias("Entity Owning Equipment"),
        owner_site.alias("Organization"),
        _cf_str_none(mm, "Site_Name_Equipment__c").alias("Record ID_2"),
        S.clean_text(S.coalesce_str("_site_name")).alias("Site Name"),
        owner_site.alias("Organization Owner_3"),
        cfc("Equipment_Type_Equipment__c").alias("Equipment Type"),
        cfc("Equipment_Make_Equipment__c").alias("Equipment Make"),
        cfc("Equipment_Model_Equipment__c").alias("Equipment Model"),
        S.cf_get(mm, "Equipment_Quantity_Equipment__c").alias("Equipment Quantity"),
        cfc("Serial_Number_Notes__c").alias("Serial Number Notes"),
        S.cf_get(mm, "Last_Date_of_Equipment_Details_Confirmed__c").alias(
            "Last_Date_of_Equipment_Details_Confirmed__c"
        ),
    ).dropDuplicates()


# ---------------------------------------------------------------------------
# task export — /root/reference/modules/task.py:220-267
# (J10 link dispatch ×6 types, J11 opp→org 2-hop backfill, Q5 last-wins)


def task_export(
    tasks: DataFrame,
    categories: DataFrame,
    users: DataFrame,
    contacts: DataFrame,
    leads: DataFrame,
    opportunities: DataFrame,
    organisations: DataFrame,
    projects: DataFrame,
    notes: DataFrame,
    broadcast_dims: bool = True,
) -> DataFrame:
    _ensure_confs(tasks)
    # --- dim lookups (hinted per the dim-size contract; the reference
    # probes dicts) ---
    cat = _dim(
        categories.select(
            F.col("CATEGORY_ID").alias("_cat_id"),
            S.coalesce_str("CATEGORY_NAME").alias("_cat_name"),
        ),
        broadcast_dims,
    )
    usr = _dim(
        users.select(F.col("USER_ID").alias("_uid"), _user_composite().alias("_owner")),
        broadcast_dims,
    )
    con = _dim(
        contacts.select(
            F.col("CONTACT_ID").alias("_con_id"), _full_name().alias("_con_name")
        ),
        broadcast_dims,
    )
    led = _dim(
        leads.select(F.col("LEAD_ID").alias("_led_id"), _full_name().alias("_led_name")),
        broadcast_dims,
    )
    opp = _dim(
        opportunities.select(
            F.col("OPPORTUNITY_ID").alias("_opp_id"),
            S.coalesce_str("OPPORTUNITY_NAME").alias("_opp_name"),
            F.col("ORGANISATION_ID").alias("_opp_org_id"),
        ),
        broadcast_dims,
    )
    org = _dim(
        organisations.select(
            F.col("ORGANISATION_ID").alias("_org_id"),
            S.coalesce_str("ORGANISATION_NAME").alias("_org_name"),
        ),
        broadcast_dims,
    )
    # second aliased copy for the opportunity-backfill hop (J4-style)
    org2 = _dim(
        organisations.select(
            F.col("ORGANISATION_ID").alias("_org2_id"),
            S.coalesce_str("ORGANISATION_NAME").alias("_org2_name"),
        ),
        broadcast_dims,
    )
    prj = _dim(
        projects.select(
            F.col("PROJECT_ID").alias("_prj_id"),
            S.coalesce_str("PROJECT_NAME").alias("_prj_name"),
        ),
        broadcast_dims,
    )
    nte = _dim(
        notes.select(
            F.col("NOTE_ID").alias("_nte_id"), S.coalesce_str("TITLE").alias("_nte_name")
        ),
        broadcast_dims,
    )

    # --- explode LINKS preserving array order (Q5 is order-sensitive) ---
    exploded = tasks.select(
        "TASK_ID", F.posexplode_outer("LINKS").alias("_pos", "_lnk")
    ).select(
        "TASK_ID",
        "_pos",
        F.col("_lnk.LINK_OBJECT_NAME").alias("_typ"),
        F.col("_lnk.LINK_OBJECT_ID").alias("_lid"),
    )
    routed = (
        exploded.join(con, (F.col("_typ") == "Contact") & (F.col("_lid") == F.col("_con_id")), "left")
        .join(led, (F.col("_typ") == "Lead") & (F.col("_lid") == F.col("_led_id")), "left")
        .join(opp, (F.col("_typ") == "Opportunity") & (F.col("_lid") == F.col("_opp_id")), "left")
        .join(org, (F.col("_typ") == "Organisation") & (F.col("_lid") == F.col("_org_id")), "left")
        .join(org2, F.col("_opp_org_id") == F.col("_org2_id"), "left")
        .join(prj, (F.col("_typ") == "Project") & (F.col("_lid") == F.col("_prj_id")), "left")
        .join(nte, (F.col("_typ") == "Note") & (F.col("_lid") == F.col("_nte_id")), "left")
    )

    def last_wins(candidate: Column, value: Column, alias: str) -> Column:
        """Q5: the value of the LAST link (by array position) satisfying
        *candidate*; '' when none does. Rows that are not candidates get
        position -1 so they only win when no candidate exists (their
        value is null → coalesced to '')."""
        key = F.when(candidate, F.col("_pos")).otherwise(F.lit(-1))
        val = F.when(candidate, F.coalesce(value, F.lit("")))
        return F.coalesce(F.max_by(val, key), F.lit("")).alias(alias)

    is_c = F.col("_typ") == "Contact"
    is_l = F.col("_typ") == "Lead"
    is_o = F.col("_typ") == "Opportunity"
    is_g = F.col("_typ") == "Organisation"
    is_p = F.col("_typ") == "Project"
    is_n = F.col("_typ") == "Note"
    # linked_org: set by an Organisation link OR back-filled through an
    # Opportunity link whose opp carries a (truthy) org id (task.py:233-241)
    org_cand = is_g | (is_o & F.col("_opp_org_id").isNotNull() & (F.col("_opp_org_id") != 0))
    org_val = F.when(is_g, F.coalesce(F.col("_org_name"), F.lit(""))).otherwise(
        F.coalesce(F.col("_org2_name"), F.lit(""))
    )

    links_resolved = routed.groupBy("TASK_ID").agg(
        last_wins(is_c, F.coalesce(F.col("_con_name"), F.lit("")), "_linked_contact"),
        last_wins(is_l, F.coalesce(F.col("_led_name"), F.lit("")), "_linked_lead"),
        last_wins(is_o, F.col("_opp_name"), "_linked_opp"),
        last_wins(org_cand, org_val, "_linked_org"),
        last_wins(is_p, F.col("_prj_name"), "_linked_proj"),
        last_wins(is_n, F.col("_nte_name"), "_linked_note"),
    )

    enriched = (
        tasks.join(links_resolved, "TASK_ID", "left")
        .join(cat, tasks["CATEGORY_ID"] == cat["_cat_id"], "left")
        .join(usr, tasks["OWNER_USER_ID"] == usr["_uid"], "left")
    )
    return enriched.select(
        F.col("TASK_ID").alias("TaskID"),
        S.coalesce_str("_cat_name").alias("Category"),
        F.col("STATUS").alias("Status"),
        F.col("PERCENT_COMPLETE").alias("Percent Complete"),
        F.col("PRIORITY").alias("Priority"),
        S.coalesce_str("_owner").alias("Owner Name"),
        F.col("ASSIGNED_TEAM_ID").alias("Assigned To Team"),
        S.format_date_only(S.coalesce_str("ASSIGNED_DATE_UTC")).alias("Date Assigned"),
        S.format_date_only(S.coalesce_str("DATE_CREATED_UTC")).alias("Date Created"),
        S.format_date_only(S.coalesce_str("REMINDER_DATE_UTC")).alias("Date Reminder"),
        S.format_date_only(S.coalesce_str("DUE_DATE")).alias("Date Due"),
        S.format_date_only(S.coalesce_str("COMPLETED_DATE_UTC")).alias("Date Completed"),
        S.coalesce_str("_linked_contact").alias("Linked Contact"),
        S.coalesce_str("_linked_lead").alias("Linked Lead"),
        S.coalesce_str("_linked_opp").alias("Linked Opportunity"),
        S.coalesce_str("_linked_org").alias("Linked Organization"),
        S.coalesce_str("_linked_proj").alias("Linked Project"),
        S.coalesce_str("_linked_note").alias("Linked Note"),
    ).dropDuplicates()


# ---------------------------------------------------------------------------
# opportunity export — /root/reference/modules/opportunity.py:122-258
# (the flagship: J4-J9, fan-out J8, P5, Q2)


def opportunity_export(
    opportunities: DataFrame,
    organisations: DataFrame,
    users: DataFrame,
    pricebooks: DataFrame,
    products: DataFrame,
    state_reasons: DataFrame,
    stages: DataFrame,
    pricebook_entries: DataFrame,
    line_items: DataFrame,
    opportunity_links: DataFrame,
    broadcast_dims: bool = True,
) -> DataFrame:
    _ensure_confs(opportunities)
    m = _cf()
    o = opportunities.withColumn("_cf", m)
    cfv = lambda k: F.element_at(F.col("_cf"), F.lit(k))  # noqa: E731

    org = organisations.select(
        F.col("ORGANISATION_ID").alias("_oid"),
        S.coalesce_str("ORGANISATION_NAME").alias("_oname"),
    )

    def org_role(alias: str) -> DataFrame:
        return _dim(
            org.select(
                F.col("_oid").alias(f"{alias}_id"), F.col("_oname").alias(f"{alias}_name")
            ),
            broadcast_dims,
        )

    usr = _dim(
        users.select(F.col("USER_ID").alias("_uid"), _user_composite().alias("_owner")),
        broadcast_dims,
    )
    stg = _dim(
        stages.select(
            F.col("STAGE_ID").alias("_stg_id"), S.coalesce_str("STAGE_NAME").alias("_stg_name")
        ),
        broadcast_dims,
    )
    rsn = _dim(
        state_reasons.select(
            F.col("STATE_REASON_ID").alias("_rsn_id"),
            S.coalesce_str("STATE_REASON").alias("_rsn_name"),
        ),
        broadcast_dims,
    )
    pbk = _dim(
        pricebooks.select(
            F.col("PRICEBOOK_ID").alias("_pbk_id"), S.coalesce_str("NAME").alias("_pbk_name")
        ),
        broadcast_dims,
    )
    prd = _dim(
        products.select(
            F.col("PRODUCT_ID").alias("_prd_id"),
            S.coalesce_str("PRODUCT_FAMILY").alias("_prd_family"),
        ),
        broadcast_dims,
    )

    # J7: line items → pricebook entries → product ids per opportunity
    products_per_opp = (
        line_items.join(
            _dim(pricebook_entries, broadcast_dims),
            "PRICEBOOK_ENTRY_ID",
        )
        .groupBy(F.col("OPPORTUNITY_ID").alias("_po_opp"))
        .agg(F.sort_array(F.collect_list("PRODUCT_ID")).alias("_product_ids"))
    )

    # J9: site names — Organisation links of the opportunity, excluding
    # its main org, names joined with ' and ' dropping empties
    # (opportunity.py:190-196). Deterministic order: link object id.
    site_names = (
        opportunity_links.filter(F.col("OBJECT_NAME") == "Opportunity")
        .filter(F.col("LINK_OBJECT_NAME") == "Organisation")
        .join(
            _dim(org, broadcast_dims),
            F.col("LINK_OBJECT_ID") == F.col("_oid"),
            "left",
        )
        .groupBy(F.col("OBJECT_ID").alias("_sn_opp"))
        .agg(
            F.array_sort(
                F.collect_list(F.struct(F.col("LINK_OBJECT_ID"), F.col("_oid"), F.col("_oname")))
            ).alias("_site_structs")
        )
    )

    joined = (
        o.join(org_role("_main"), o["ORGANISATION_ID"] == F.col("_main_id"), "left")
        .join(org_role("_ent"), cfv("Entity_Owning_Equipment__c").try_cast("bigint") == F.col("_ent_id"), "left")
        .join(org_role("_chan"), cfv("Channel_Owner__c").try_cast("bigint") == F.col("_chan_id"), "left")
        .join(usr, o["OWNER_USER_ID"] == usr["_uid"], "left")
        .join(stg, o["STAGE_ID"] == stg["_stg_id"], "left")
        .join(rsn, o["STATE_REASON_ID"] == rsn["_rsn_id"], "left")
        .join(pbk, o["PRICEBOOK_ID"] == pbk["_pbk_id"], "left")
        .join(products_per_opp, o["OPPORTUNITY_ID"] == F.col("_po_opp"), "left")
        .join(site_names, o["OPPORTUNITY_ID"] == F.col("_sn_opp"), "left")
    )

    # the reference compares STRINGS with ''-defaults (opportunity.py:
    # 190-196: main_org = str(... or '')), so a null main org keeps every
    # linked site org — a raw column comparison would null out and drop
    # them all
    main_org_str = F.coalesce(F.col("ORGANISATION_ID").cast("string"), F.lit(""))
    site_name = F.array_join(
        F.filter(
            F.transform(
                F.coalesce(F.col("_site_structs"), F.array()),
                lambda s: F.when(
                    F.coalesce(s["LINK_OBJECT_ID"].cast("string"), F.lit(""))
                    != main_org_str,
                    F.coalesce(s["_oname"], F.lit("")),
                ).otherwise(F.lit("")),
            ),
            lambda x: x != "",
        ),
        " and ",
    )

    # J8 fan-out: one row per product id; zero products → one row, pid ''
    fanned = joined.withColumn(
        "_pid",
        F.explode_outer(F.col("_product_ids")),
    ).join(prd, F.col("_pid") == F.col("_prd_id"), "left")

    mm = F.col("_cf")
    ct = lambda c: S.clean_text(S.coalesce_str(c))  # noqa: E731
    # Trial?: str(cf.get('Trial__c', False)).upper() — missing → 'FALSE',
    # present-null → 'NONE', else upper(value)
    trial = (
        F.when(~F.map_contains_key(mm, F.lit("Trial__c")), F.lit("FALSE"))
        .when(F.element_at(mm, F.lit("Trial__c")).isNull(), F.lit("NONE"))
        .otherwise(F.upper(F.element_at(mm, F.lit("Trial__c"))))
    )
    owner_name = F.when(
        F.col("_owner").isNull() | (F.col("_owner") == ""), F.lit("")
    ).otherwise(S.clean_text(S.split_part(F.col("_owner"), ";", 1)))
    return fanned.select(
        F.col("OPPORTUNITY_ID").cast("string").alias("Opportunity ID"),
        ct("OPPORTUNITY_NAME").alias("Opportunity Name"),
        ct("_ent_name").alias("Entity Owning Equipment"),
        site_name.alias("Site Name"),
        ct("_chan_name").alias("Channel Partner"),
        F.col("DATE_CREATED_UTC").alias("Date Created"),
        F.col("FORECAST_CLOSE_DATE").alias("Date Closed (Forecast)"),
        F.col("ACTUAL_CLOSE_DATE").alias("Date Closed (Actual)"),
        F.col("OPPORTUNITY_VALUE").alias("Opportunity Value"),
        F.col("BID_CURRENCY").alias("Bid Currency"),
        F.col("OPPORTUNITY_STATE").alias("Opportunity State"),
        S.coalesce_str("_stg_name").alias("Current Pipeline Stage"),
        F.col("OPPORTUNITY_VALUE").alias("Expected Revenue"),  # Q2
        F.col("LAST_ACTIVITY_DATE_UTC").alias("Date of Last Activity"),
        F.col("NEXT_ACTIVITY_DATE_UTC").alias("Date of Next Activity"),
        F.col("PROBABILITY").alias("Probability"),
        ct("_rsn_name").alias("State Reason"),
        # P5: WON → 'TRUE'/'FALSE'
        S.encode_bool_flag(F.col("OPPORTUNITY_STATE") == "WON").alias("Won"),
        trial.alias("Trial?"),
        S.cf_get(mm, "Quantity__c").alias("Opportunity Product Quantity"),
        ct("_pbk_name").alias("Pricebook Name"),
        ct("_owner").alias("Opportunity Owner"),
        F.when(
            F.col("_pid").isNotNull(), S.clean_text(S.coalesce_str("_prd_family"))
        ).otherwise(F.lit("")).alias("Product Family"),
        S.clean_text(S.cf_get(mm, "Product_Type__c")).alias("Archived Field - Product Type "),
        F.coalesce(F.col("_pid").cast("string"), F.lit("")).alias("Product ID"),
        ct("_main_name").alias("Organization Name"),
        owner_name.alias("Owner Name"),
        S.clean_text(S.cf_get(mm, "Channel_Type__c")).alias("Channel Type"),
        S.clean_text(S.cf_get(mm, "GAP_Strategy__c")).alias("GAP Strategy"),
        S.clean_text(S.cf_get(mm, "Current_State__c")).alias("GAP Current State"),
        S.cf_get(mm, "Invoice_Number__c").alias("Invoice Number"),
        S.cf_get(mm, "Purchase_Order__c").alias("Purchase Order"),
    ).dropDuplicates()
