package graft.schema

import scala.collection.immutable.ListMap

/** Canonical column lists and the two column-name maps of the engine.
  *
  * Mirrors the reference's data model (see SURVEY.md §1):
  *  - source→canonical map: reference `src/utils/constants.py:6-36`
  *  - mandatory columns: `constants.py:39-43`
  *  - canonical→physical (warehouse) map: `constants.py:57-68`
  *
  * Order matters: [[ColumnMappings.columnMap]] is a [[ListMap]] because the
  * reference coalesces duplicate-target source columns in *map insertion
  * order* (`data_validator.py:76-82` iterates `COLUMN_MAP.items()`), not in
  * source-frame column order.
  */
object ColumnMappings {

  /** Source spelling → canonical name (reference `constants.py:6-36`).
    * Python dict semantics: a repeated key keeps its first position, so the
    * duplicated `VaccinationType`/`VaccinationDate` entries collapse to one.
    */
  val columnMap: ListMap[String, String] = ListMap(
    "ID" -> "Customer_Id",
    "Name" -> "Customer_Name",
    "VaccinationType" -> "Vaccination_Id",
    "VaccinationDate" -> "Open_Date",
    "Unique ID" -> "Customer_Id",
    "Patient Name" -> "Customer_Name",
    "Vaccine Type" -> "Vaccination_Id",
    "Date of Birth" -> "DOB",
    "Date of Vaccination" -> "Open_Date",
    "DOB" -> "DOB",
    "Doctor Name" -> "Dr_Name",
    "Doctor" -> "Dr_Name",
    "State/Province" -> "State",
    "State" -> "State",
    "Country Name" -> "Country",
    "Country" -> "Country",
    "Consultation Date" -> "Last_Consulted_Date",
    "Last Consulted Date" -> "Last_Consulted_Date",
    "Postal Code" -> "Post_Code",
    "Post Code" -> "Post_Code",
  )

  /** reference `constants.py:39-43` */
  val mandatoryColumns: Seq[String] = Seq("Customer_Name", "Customer_Id", "Open_Date")

  /** Canonical → physical warehouse name (reference `constants.py:57-68`).
    * Names not present here pass through unchanged. */
  val warehouseColumnMap: ListMap[String, String] = ListMap(
    "Customer_Name" -> "Name",
    "Customer_Id" -> "Cust_I",
    "Open_Date" -> "Open_Dt",
    "Last_Consulted_Date" -> "Consul_Dt",
    "Vaccination_Id" -> "VAC_ID",
    "Dr_Name" -> "DR_Name",
    "State" -> "State",
    "Country" -> "Country",
    "DOB" -> "DOB",
    "Is_Active" -> "FLAG",
  )
}

object Schemas {

  /** Date columns that quarantine the row when invalid (`data_validator.py:135`). */
  val mandatoryDateColumns: Seq[String] = Seq("Open_Date")

  /** Date columns that only null out when invalid (`data_validator.py:138`). */
  val optionalDateColumns: Seq[String] = Seq("Last_Consulted_Date", "DOB")

  val dateColumns: Seq[String] = mandatoryDateColumns ++ optionalDateColumns

  /** All 11 canonical columns in a stable output order: the 10 fields of the
    * reference's expected header (`data_validator.py:34`) + `Post_Code`
    * (string-typed and optional per `constants.py:46-54`, absent from the
    * header constant). Strings at the harmonization stage; dates are typed by
    * the validator. */
  val canonicalColumns: Seq[String] = Seq(
    "Customer_Name", "Customer_Id", "Open_Date", "Last_Consulted_Date",
    "Vaccination_Id", "Dr_Name", "State", "Country", "DOB", "Post_Code",
    "Is_Active")

  /** The reference's embedded-header sentinel (`data_validator.py:34`). */
  val expectedHeader: String =
    "|H|Customer_Name|Customer_Id|Open_Date|Last_Consulted_Date|Vaccination_Id|Dr_Name|State|Country|DOB|Is_Active"
}

/** Typed view of one validated record, exposed at the API boundary
  * (SURVEY.md §1.4). Nullability of the Option fields is the core business
  * rule (`data_validator.py:267-281`). */
case class VaccinationRecord(
    Customer_Name: String,
    Customer_Id: String,
    Open_Date: java.sql.Date,
    Last_Consulted_Date: Option[java.sql.Date],
    Vaccination_Id: Option[String],
    Dr_Name: Option[String],
    State: Option[String],
    Country: Option[String],
    DOB: Option[java.sql.Date],
    Post_Code: Option[String],
    Is_Active: Option[String])
