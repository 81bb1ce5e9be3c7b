"""Reference-test parity map: every test case in the reference's own
suite (src/test/scala, 83 cases across FitsLibTest / FitsSchemaTest /
ReadFitsTest / packageTest) mapped to the repo test that pins the same
behavior. Two enforcement directions:

- the map's key set must equal the committed list of reference case
  names, ``tests/data/reference_test_names.txt`` (a reference case we
  silently dropped, or a stale key, both fail); where the reference
  checkout exists, a second test checks that list against the names
  re-extracted from its .scala files;
- every mapped counterpart ``tests/<file>.py::<func>`` must exist (a
  repo test rename breaks the map loudly instead of rotting).

Where the reference's test is about an implementation detail our
architecture deletes (the byte-cursor tests — there is no cursor in a
vectorized decoder), the map points at the test that pins the same
INVARIANT (block boundaries, first-row bytes), per SURVEY.md §5's
"invariants kept as tests" rule.
"""

import os
import re

import pytest

REF_TEST_DIR = "/root/reference/src/test/scala/com/astrolabsoftware/sparkfits"
HERE = os.path.dirname(__file__)
NAMES_FILE = os.path.join(HERE, "data", "reference_test_names.txt")

F = "FitsLibTest"
S = "FitsSchemaTest"
R = "ReadFitsTest"
P = "packageTest"

#: (reference suite, reference test name) -> "test_file.py::test_func"
PARITY = {
    # ---- FitsLibTest: HDU mechanics, header parsing, decode ----
    (F, "FitsLib test: Can you initialise a FITS HDU?"):
        "test_fitscore.py::test_bintable_metadata_golden",
    (F, "FitsLib test: Can you read an Image stored in the 0th HDU?"):
        "test_fitscore.py::test_image_decode_imgindex",
    (F, "FitsLib test: Can you detect wrong HDU index?"):
        "test_datasource.py::test_hdu_out_of_range_errors",
    (F, "FitsLib test: Can you initialise correctly an empty HDU?"):
        "test_fitscore.py::test_empty_and_out_of_range",
    (F, "FitsLib test: Can you initialise correctly methods of an empty HDU?"):
        "test_fitscore.py::test_empty_and_out_of_range",
    (F, "FitsLib test: Can you initialise correctly methods of a Table HDU?"):
        "test_fitscore.py::test_bintable_metadata_golden",
    (F, "FitsLib test: Can you compute correctly the boundaries of a HDU?"):
        "test_fitscore.py::test_block_boundaries_golden",
    (F, "FitsLib test: Can you get the total number of HDU?"):
        "test_fitscore.py::test_n_hdu_golden",
    # no byte cursor exists in the vectorized decoder; the cursor
    # invariants (header end / data start / block alignment) are the
    # boundary + first-row goldens
    (F, "FitsLib test: Can you play with the cursor (header)?"):
        "test_fitscore.py::test_block_boundaries_golden",
    (F, "FitsLib test: Can you play with the cursor (data)?"):
        "test_fitscore.py::test_first_rows_golden",
    (F, "FitsLib test: Can you play with the cursor (general)?"):
        "test_fitscore.py::test_block_boundaries_golden",
    (F, "FitsLib test: Can you read a short header?"):
        "test_fitscore.py::test_bintable_metadata_golden",
    (F, "FitsLib test: Can you read a long header (> 2880 bytes)?"):
        "test_fitscore.py::test_longheader_golden",
    (F, "FitsLib test: The header stops by END?"):
        "test_fitscore.py::test_longheader_golden",
    (F, "FitsLib test: Can you read a line of the data block?"):
        "test_fitscore.py::test_first_rows_golden",
    (F, "FitsLib test: Can you read different element types?"):
        "test_fitscore.py::test_tform_scalars",
    (F, "FitsLib test: Can you guess the column types?"):
        "test_fitscore.py::test_tform_arrays",
    (F, "FitsLib test: Can you grab the keywords of the header?"):
        "test_fitscore.py::test_split_card_variants",
    (F, "FitsLib test: Can you grab the values of the header?"):
        "test_fitscore.py::test_split_card_variants",
    (F, "FitsLib test: Can you grab the names of the header?"):
        "test_fitscore.py::test_parse_cards_duplicate_keyword_last_wins",
    (F, "FitsLib test: Can you grab the comments of the header?"):
        "test_fitscore.py::test_parse_cards_duplicate_keyword_last_wins",
    (F, "FitsLib test: Can you read the number of rows?"):
        "test_fitscore.py::test_bintable_metadata_golden",
    (F, "FitsLib test: Can you read the number of columns?"):
        "test_fitscore.py::test_bintable_metadata_golden",
    (F, "FitsLib test: Can you read the size (byte) of a row?"):
        "test_fitscore.py::test_bintable_metadata_golden",
    # ---- FitsSchemaTest: TFORM -> Spark type conversion ----
    (S, "Schema test: can you convert the type Float for a column?"):
        "test_fitscore.py::test_tform_scalars",
    (S, "Schema test: can you convert the type Array(Float) for a column?"):
        "test_fitscore.py::test_tform_arrays",
    (S, "Schema test: can you convert the type Double for a column?"):
        "test_fitscore.py::test_tform_scalars",
    (S, "Schema test: do you convert a one-element vector into a scalar?"):
        "test_datasource.py::test_one_element_collapse",
    (S, "Schema test: can you convert the type Array(Double) for a column?"):
        "test_fitscore.py::test_tform_arrays",
    (S, "Schema test: can you convert the type String for a column?"):
        "test_fitscore.py::test_tform_scalars",
    (S, "Schema test: can you convert the type Short for a column?"):
        "test_fitscore.py::test_tform_scalars",
    (S, "Schema test: can you convert the type Array(Short) for a column?"):
        "test_fitscore.py::test_tform_arrays",
    (S, "Schema test: can you convert the type Int for a column?"):
        "test_fitscore.py::test_tform_scalars",
    (S, "Schema test: can you convert the type Array(Int) for a column?"):
        "test_fitscore.py::test_tform_arrays",
    (S, "Schema test: can you convert the type Long for a column?"):
        "test_fitscore.py::test_tform_scalars",
    (S, "Schema test: can you convert the type Array(Long) for a column?"):
        "test_fitscore.py::test_tform_arrays",
    (S, "Schema test: can you convert the type Boolean for a column?"):
        "test_fitscore.py::test_tform_scalars",
    (S, "Schema test: can you convert the type Unsigned Byte for a column?"):
        "test_datasource.py::test_unsigned_byte_fixture",
    (S, "Schema test: can you convert the name for a column?"):
        "test_datasource.py::test_schema_inference",
    (S, "Schema test: can you generate a list for all columns?"):
        "test_datasource.py::test_schema_inference",
    (S, "Schema test: can you generate a schema from the hdu header?"):
        "test_datasource.py::test_schema_inference",
    # ---- ReadFitsTest: datasource option + type surface ----
    (R, "recordLength test: Can you catch a too small user-defined recordLength?"):
        "test_datasource.py::test_recordlength_too_small_errors",
    (R, "recordLength test: Can you adapt the size of recordLength if needed?"):
        "test_datasource.py::test_recordlength_max_guard",
    (R, "HDU test: Is there a HDU number?"):
        "test_datasource.py::test_missing_hdu_option_errors",
    (R, "HDU test: Is HDU index above the max HDU index?"):
        "test_datasource.py::test_hdu_out_of_range_errors",
    (R, "HDU type test: Return an empty DataFrame if HDU is empty?"):
        "test_datasource.py::test_empty_hdu",
    (R, "HDU type test: Return the proper record count if HDU is an image?"):
        "test_datasource.py::test_image_hdu",
    (R, "HDU type test: Return an empty DF if the HDU is a Table? (not implemented yet)"):
        "test_datasource.py::test_ascii_table_stub",
    (R, "Count test: Do you count all elements in a column in HDU 1?"):
        "test_datasource.py::test_count_golden",
    (R, "Count test: Do you count all elements in a column in HDU 2?"):
        "test_datasource.py::test_second_hdu",
    (R, "Column test: Can you select only one column?"):
        "test_datasource.py::test_columns_option",
    (R, "Column test: Can you select only some columns?"):
        "test_datasource.py::test_columns_option",
    (R, "Type test: Do you see a Boolean?"):
        "test_fitscore.py::test_tform_scalars",
    (R, "Type test: Do you see a Long?"):
        "test_datasource.py::test_schema_inference",
    (R, "Type test: Do you see a Int?"):
        "test_datasource.py::test_schema_inference",
    (R, "Type test: Do you see a Short?"):
        "test_fitscore.py::test_tform_scalars",
    (R, "Type test: Do you see a Float?"):
        "test_datasource.py::test_schema_inference",
    (R, "Type test: Do you see a Double?"):
        "test_datasource.py::test_schema_inference",
    (R, "Type test: Do you see an Array(Long)?"):
        "test_datasource.py::test_array_columns",
    (R, "Type test: Do you see an Array(Float)?"):
        "test_datasource.py::test_array_columns",
    (R, "Type test: Do you see an Array(Double)?"):
        "test_datasource.py::test_array_columns",
    (R, "Type test: Do you see an Array(Int)?"):
        "test_datasource.py::test_array_columns",
    (R, "Type test: Do you see an Array(Short)?"):
        "test_datasource.py::test_array_columns",
    (R, "Type test: Do you see a String?"):
        "test_datasource.py::test_schema_inference",
    (R, "Type test: Do you see a Byte?"):
        "test_datasource.py::test_unsigned_byte_fixture",
    # ---- packageTest: end-to-end DataFrame surface ----
    (P, "Readfits test: Do you send back a DataFrameReader?"):
        "test_datasource.py::test_count_golden",
    (P, "Readfits test: Do you yout nickname?"):
        "test_datasource.py::test_sql_create_view_using_fits",
    (P, "DataFrame test: can you really make a DF from the hdu?"):
        "test_datasource.py::test_count_golden",
    (P, "User schema test: can you really take an external header?"):
        "test_datasource.py::test_user_schema_rename",
    (P, "Data distribution test: Can you count all elements?"):
        "test_datasource.py::test_count_golden",
    (P, "Data distribution test: Can you sum up all elements?"):
        "test_datasource.py::test_sum_index_golden",
    (P, "Data distribution test: Do you pass over all blocks?"):
        "test_datasource.py::test_no_duplicates_across_partitions",
    (P, "Header printing test"):
        "test_datasource.py::test_fits_headers_table",
    (P, "Multi files test: Can you read several FITS file?"):
        "test_datasource.py::test_dir_read",
    (P, "Multi files test: Can you read several FITS file (glob)?"):
        "test_datasource.py::test_glob_read",
    (P, "Multi files test: Can you read several FITS file (comma-separated)?"):
        "test_datasource.py::test_comma_list_read",
    (P, "Multi files test: Can you detect an error in reading different FITS file [FAILFAST]?"):
        "test_vfs.py::test_mock_failfast_conformance",
    (P, "Multi files test: Can you read several FITS file (image) discarding empty ones?"):
        "test_datasource.py::test_permissive_skips_empty",
    (P, "Multi files test: Can you read several FITS file (image) discarding empty ones + set recordLength?"):
        "test_datasource.py::test_permissive_skips_empty",
    (P, "Multi files test: Can you read several FITS file (image), and fail if there are empty ones??"):
        "test_datasource.py::test_failfast_raises_on_empty",
    (P, "No file test: Can you detect an error if there is no input FITS file found?"):
        "test_datasource.py::test_missing_file_errors",
    (P, "Ordering test: Is the first element of the DF correct?"):
        "test_datasource.py::test_ordering_first_row",
    (P, "Slash in names: can you read column names with slash?"):
        "test_datasource.py::test_slash_colnames",
}


def _committed_reference_cases():
    cases = set()
    with open(NAMES_FILE) as f:
        for line in f:
            if line.strip() and not line.startswith("#"):
                suite, name = line.rstrip("\n").split("\t")
                cases.add((suite, name))
    return cases


def _extract_reference_cases():
    cases = set()
    for suite in (F, S, R, P):
        src = open(os.path.join(REF_TEST_DIR, f"{suite}.scala")).read()
        for name in re.findall(r'test\(\s*"([^"]+)"', src):
            cases.add((suite, name))
    return cases


def test_parity_map_covers_reference_suite_exactly():
    ref = _committed_reference_cases()
    assert len(ref) == 83, f"{len(ref)} reference cases in {NAMES_FILE}"
    missing = sorted(ref - set(PARITY))
    stale = sorted(set(PARITY) - ref)
    assert missing == [], f"reference cases with no parity entry: {missing}"
    assert stale == [], f"parity entries no longer in the reference: {stale}"


@pytest.mark.skipif(not os.path.isdir(REF_TEST_DIR),
                    reason="reference checkout not present")
def test_committed_names_match_reference_sources():
    """The committed name list is the one upstream: runs wherever the
    reference checkout exists."""
    assert _committed_reference_cases() == _extract_reference_cases()


def test_parity_counterparts_exist():
    bad = []
    for (suite, name), target in PARITY.items():
        fname, func = target.split("::")
        path = os.path.join(HERE, fname)
        if not os.path.exists(path):
            bad.append(f"{target}: file missing (for {suite}: {name})")
            continue
        if f"def {func}(" not in open(path).read():
            bad.append(f"{target}: function missing (for {suite}: {name})")
    assert bad == [], "\n".join(bad)
