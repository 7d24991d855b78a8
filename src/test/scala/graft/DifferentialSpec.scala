package graft

import com.fasterxml.jackson.databind.JsonNode
import com.fasterxml.jackson.databind.node.ObjectNode
import graft.dynamic.{DynJson, DynPipeline}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import scala.jdk.CollectionConverters._

/** Differential testing: the TYPED engine (spec → Catalyst Columns over a
  * schema) and the DYNAMIC engine (spec → Jackson-tree programs over
  * schemaless JSON) run the SAME pipelines over the SAME rows; outputs must
  * agree document-by-document after normalization (null fields dropped —
  * the typed engine cannot distinguish null from missing in its JSON dump;
  * numeric 1 == 1.0). Pipelines with engine-unspecified orders (e.g. $push
  * across partitions) are excluded by construction: group inputs
  * coalesce(1) where encounter order matters.
  */
class DifferentialSpec extends SparkSpec with DifferentialHarness {
  import spark.implicits._

  // catalog tables ("dim", "g") + agreeCat live in DifferentialHarness,
  // shared with the grammar fuzzer

  private val pipelines = Seq(
    // projections / transforms
    """[{"$project": {"a": 1, "s": 1}}]""",
    """[{"$project": {"arr": 0, "b": 0}}]""",
    """[{"$addFields": {"c": {"$add": ["$a", 10]},
         "d": {"$multiply": ["$a", "$a"]}}}]""",
    """[{"$addFields": {"t": {"$cond": [{"$gt": ["$a", 2]}, "big", "small"]}}},
        {"$project": {"t": 1}}]""",
    """[{"$addFields": {"u": {"$toUpper": "$s"}, "l": {"$strLenCP": "$s"}}},
        {"$project": {"u": 1, "l": 1}}]""",
    """[{"$addFields": {"h": {"$arrayElemAt": ["$arr", 0]},
         "n": {"$size": "$arr"}}}, {"$unset": ["arr", "s", "b"]}]""",
    """[{"$addFields": {"sl": {"$slice": ["$arr", 2]},
         "sum": {"$sum": "$arr"}}}, {"$project": {"sl": 1, "sum": 1}}]""",
    """[{"$addFields": {"m": {"$map": {"input": "$arr", "as": "x",
         "in": {"$multiply": ["$$x", 2]}}}}}, {"$project": {"m": 1}}]""",
    """[{"$addFields": {"f": {"$filter": {"input": "$arr", "as": "x",
         "cond": {"$gt": ["$$x", 2]}}}}}, {"$project": {"f": 1}}]""",
    """[{"$replaceWith": {"_id": "$_id", "k": {"$concat": ["$s", "!"]}}}]""",
    """[{"$addFields": {"r": {"$round": [{"$divide": ["$b", 3]}, 3]},
         "md": {"$mod": ["$a", 3]}}}, {"$project": {"r": 1, "md": 1}}]""",
    """[{"$addFields": {"sw": {"$switch": {"branches": [
          {"case": {"$lt": ["$a", 0]}, "then": "neg"},
          {"case": {"$eq": ["$a", 1]}, "then": "one"}],
          "default": "other"}}}}, {"$project": {"sw": 1}}]""",
    // match
    """[{"$match": {"a": {"$gte": 3}}}, {"$project": {"a": 1}}]""",
    """[{"$match": {"$or": [{"s": "Alpha"}, {"a": {"$lt": 0}}]}},
        {"$project": {"s": 1}}]""",
    """[{"$match": {"arr": {"$size": 1}}}, {"$project": {"_id": 1}}]""",
    """[{"$match": {"s": {"$regex": "^al", "$options": "i"}}},
        {"$project": {"_id": 1}}]""",
    """[{"$match": {"$expr": {"$gt": [{"$abs": "$b"}, 1.0]}}},
        {"$project": {"_id": 1}}]""",
    """[{"$match": {"arr": {"$all": [1, 2]}}}, {"$project": {"_id": 1}}]""",
    // expansion
    """[{"$unwind": "$arr"}, {"$project": {"arr": 1}}]""",
    """[{"$unwind": {"path": "$arr", "preserveNullAndEmptyArrays": true,
                     "includeArrayIndex": "i"}},
        {"$project": {"arr": 1, "i": 1}}]""",
    // aggregation
    """[{"$group": {"_id": "$s", "n": {"$sum": 1},
                    "tot": {"$sum": "$a"}}}]""",
    """[{"$group": {"_id": null, "mx": {"$max": "$b"}, "mn": {"$min": "$b"},
                    "avg": {"$avg": "$a"}}}]""",
    """[{"$group": {"_id": {"$mod": ["$a", 2]},
                    "n": {"$count": {}}}}]""",
    """[{"$group": {"_id": "$s", "med": {"$median": {"input": "$a",
          "method": "approximate"}}}}]""",
    """[{"$group": {"_id": null, "hi2": {"$maxN": {"input": "$a", "n": 2}},
                    "lo2": {"$minN": {"input": "$a", "n": 2}}}}]""",
    """[{"$group": {"_id": null, "top": {"$top": {"output": "$s",
          "sortBy": {"a": -1}}}}}]""",
    """[{"$sortByCount": "$s"}]""",
    // KNOWN DEVIATION (schema-first): a default of a DIFFERENT type than
    // the boundaries ("rest") makes Catalyst coerce the typed $switch to
    // string, so typed _id would be "0"/"-5" where dynamic keeps numbers —
    // mixed-type _id needs the dynamic engine. Same-type default agrees:
    """[{"$bucket": {"groupBy": "$a", "boundaries": [-5, 0, 3, 10],
          "default": 99, "output": {"n": {"$sum": 1}}}}]""",
    """[{"$count": "total"}]""",
    // windows
    """[{"$setWindowFields": {"partitionBy": "$s", "sortBy": {"a": 1},
          "output": {"rn": {"$documentNumber": {}},
                     "run": {"$sum": "$a", "window":
                       {"documents": ["unbounded", "current"]}},
                     "rest": {"$sum": "$a", "window":
                       {"documents": ["current", "unbounded"]}}}}},
        {"$project": {"rn": 1, "run": 1, "rest": 1}}]""",
    // batch-only stages
    """[{"$sort": {"a": -1}}, {"$limit": 2}, {"$project": {"a": 1}}]""",
    """[{"$sort": {"b": 1}}, {"$skip": 3}, {"$project": {"_id": 1}}]""",
    """[{"$facet": {"pos": [{"$match": {"a": {"$gt": 0}}}, {"$count": "n"}],
                    "neg": [{"$match": {"a": {"$lt": 0}}}, {"$count": "n"}]}},
        {"$unwind": "$pos"}, {"$unwind": "$neg"},
        {"$project": {"p": "$pos.n", "m": "$neg.n"}}]""",
    """[{"$documents": [{"x": 1}, {"x": 2}]},
        {"$addFields": {"y": {"$multiply": ["$x", 3]}}}]""",
    // more expression breadth
    """[{"$addFields": {"lets": {"$let": {"vars": {"t": {"$add": ["$a", 1]}},
         "in": {"$multiply": ["$$t", "$$t"]}}}}},
        {"$project": {"lets": 1}}]""",
    """[{"$addFields": {"red": {"$reduce": {"input": "$arr",
         "initialValue": 0, "in": {"$add": ["$$value", "$$this"]}}}}},
        {"$project": {"red": 1}}]""",
    """[{"$addFields": {"rng": {"$range": [0, {"$min": ["$a", 3]}]}}},
        {"$project": {"rng": 1}}]""",
    """[{"$addFields": {"z": {"$zip": {"inputs": ["$arr", "$arr"]}}}},
        {"$project": {"z": 1}}]""",
    """[{"$addFields": {"ss": {"$substrCP": ["$s", 0, 3]},
         "sp": {"$split": ["$s", " "]},
         "ix": {"$indexOfCP": ["$s", "a"]}}},
        {"$project": {"ss": 1, "sp": 1, "ix": 1}}]""",
    """[{"$addFields": {"cc": {"$concatArrays": ["$arr", [100]]},
         "rv": {"$reverseArray": "$arr"},
         "in": {"$in": [2, "$arr"]}}},
        {"$project": {"cc": 1, "rv": 1, "in": 1}}]""",
    """[{"$addFields": {"t1": {"$trunc": [{"$divide": ["$b", 2]}, 1]},
         "p": {"$pow": ["$a", 2]}, "sq": {"$sqrt": {"$abs": "$a"}}}},
        {"$project": {"t1": 1, "p": 1,
                      "sq": {"$round": ["$sq", 6]}}}]""",
    """[{"$addFields": {"c": {"$convert": {"input": "$s", "to": "int",
         "onError": -1}}}}, {"$project": {"c": 1}}]""",
    // $type on a never-null field: a null VALUE types "null" in the typed
    // engine but "missing" in dynamic (to_json drops nulls) — the inherent
    // null-vs-missing representational boundary
    """[{"$addFields": {"gf": {"$getField": {"field": "a"}},
         "ty": {"$type": "$_id"}}},
        {"$project": {"gf": 1, "ty": 1}}]""",
    """[{"$redact": {"$cond": [{"$gte": ["$a", 0]}, "$$KEEP", "$$PRUNE"]}},
        {"$project": {"_id": 1}}]""",
    """[{"$replaceRoot": {"newRoot": {"_id": "$_id",
         "both": {"$concat": ["$s", "-", {"$toString": "$a"}]}}}}]""",
    // more match breadth
    """[{"$match": {"a": {"$in": [1, 3, 5]}}}, {"$project": {"_id": 1}}]""",
    """[{"$match": {"a": {"$nin": [1, 3, 5]}}}, {"$project": {"_id": 1}}]""",
    """[{"$match": {"arr": {"$elemMatch": {"$gte": 2, "$lt": 5}}}},
        {"$project": {"_id": 1}}]""",
    """[{"$match": {"s": {"$not": {"$regex": "a"}}}},
        {"$project": {"_id": 1}}]""",
    """[{"$match": {"a": {"$mod": [2, 1]}}}, {"$project": {"_id": 1}}]""",
    // {f: null} matches null AND missing (Mongo's rule); $exists over nulls
    """[{"$match": {"s": null}}, {"$project": {"_id": 1}}]""",
    """[{"$match": {"s": {"$exists": false}}}, {"$project": {"_id": 1}}]""",
    """[{"$match": {"s": {"$ne": null}}}, {"$project": {"_id": 1}}]""",
    """[{"$match": {"a": {"$lt": 100}}}, {"$project": {"_id": 1}}]""",
    // window family breadth
    """[{"$setWindowFields": {"partitionBy": "$s", "sortBy": {"a": 1},
          "output": {"rk": {"$rank": {}}, "dr": {"$denseRank": {}},
                     "sh": {"$shift": {"output": "$a", "by": 1,
                                       "default": -1}},
                     "mn": {"$min": "$a"}, "pk": {"$push": "$a"}}}},
        {"$project": {"rk": 1, "dr": 1, "sh": 1, "mn": 1, "pk": 1}}]""",
    """[{"$addFields": {"v": {"$cond": [{"$eq": [{"$mod": ["$a", 2]}, 0]},
          null, "$b"]}}},
        {"$fill": {"sortBy": {"a": 1}, "output": {"v": {"method": "locf"}}}},
        {"$project": {"v": 1}}]""",
    """[{"$project": {"a": 1, "_id": 1}},
        {"$densify": {"field": "a", "range": {"step": 2, "bounds": [-2, 6]}}}]""",
    """[{"$addFields": {"sw": {"$setUnion": [["x"], {"$split": ["$s", " "]}]}}},
        {"$project": {"sw": 1}}]""",
    // string family
    """[{"$addFields": {"lo": {"$toLower": "$s"},
         "tr": {"$trim": {"input": {"$concat": ["  ", "$s", " "]}}},
         "lt": {"$ltrim": {"input": "$s", "chars": "Aa"}},
         "cmp": {"$strcasecmp": ["$s", "alpha"]}}},
        {"$project": {"lo": 1, "tr": 1, "lt": 1, "cmp": 1}}]""",
    """[{"$addFields": {"b": {"$strLenBytes": "$s"},
         "rf": {"$regexMatch": {"input": "$s", "regex": "a[lm]"}}}},
        {"$project": {"b": 1, "rf": 1}}]""",
    // set family
    """[{"$addFields": {"si": {"$setIntersection": ["$arr", [2, 3, 4]]},
         "sd": {"$setDifference": ["$arr", [1]]},
         "sub": {"$setIsSubset": [[1], {"$ifNull": ["$arr", []]}]},
         "any": {"$anyElementTrue": [[{"$gt": ["$a", 2]}, false]]}}},
        {"$project": {"si": {"$sortArray": {"input": "$si", "sortBy": 1}},
                      "sd": {"$sortArray": {"input": "$sd", "sortBy": 1}},
                      "sub": 1, "any": 1}}]""",
    // object family
    """[{"$addFields": {"o2a": {"$objectToArray": {"p": "$a", "q": "$b"}}}},
        {"$project": {"o2a": 1}}]""",
    """[{"$addFields": {"a2o": {"$arrayToObject": [[{"k": "x", "v": "$a"},
                                                    {"k": "y", "v": 2}]]}}},
        {"$project": {"a2o": 1}}]""",
    """[{"$addFields": {"mo": {"$mergeObjects": [{"x": 1, "y": 1},
                                                 {"y": "$a"}]}}},
        {"$project": {"mo": 1}}]""",
    // type predicates / comparison
    """[{"$addFields": {"isn": {"$isNumber": "$a"}, "isa": {"$isArray": "$arr"},
         "cm": {"$cmp": ["$a", 3]}, "if0": {"$ifNull": [null, "$a", 9]}}},
        {"$project": {"isn": 1, "isa": 1, "cm": 1, "if0": 1}}]""",
    // numeric edge family
    """[{"$addFields": {"c1": {"$ceil": "$b"}, "f1": {"$floor": "$b"},
         "e1": {"$round": [{"$exp": {"$min": ["$a", 2]}}, 4]},
         "l2": {"$round": [{"$log": [{"$add": [{"$abs": "$a"}, 1]}, 2]}, 4]}}},
        {"$project": {"c1": 1, "f1": 1, "e1": 1, "l2": 1}}]""",
    // window range frames + statistics
    """[{"$setWindowFields": {"sortBy": {"a": 1},
          "output": {"near": {"$sum": "$a", "window": {"range": [-2, 2]}},
                     "sd": {"$stdDevPop": "$b"},
                     "cv": {"$covariancePop": ["$a", "$b"]}}}},
        {"$project": {"near": 1, "sd": {"$round": ["$sd", 6]},
                      "cv": {"$round": ["$cv", 6]}}}]""",
    // $sortArray over DOCUMENTS (sortBy field spec, desc) + $filter limit
    """[{"$addFields": {"docs": [{"p": 2, "q": "b"}, {"p": 1, "q": "a"},
                                 {"p": 3, "q": "c"}]}},
        {"$addFields": {"sorted": {"$sortArray": {"input": "$docs",
                                                  "sortBy": {"p": -1}}},
         "lim": {"$filter": {"input": [1, 2, 3, 4, 5], "as": "e",
                             "cond": {"$gt": ["$$e", 1]}, "limit": 2}}}},
        {"$project": {"sorted": 1, "lim": 1}}]""",
    // $range with negative step + nested $map over a generated grid
    """[{"$match": {"a": {"$ne": null}}},
        {"$addFields": {"rg": {"$range": [5, 0, -2]},
         "grid": {"$map": {"input": {"$range": [0, 2]}, "as": "i",
                   "in": {"$map": {"input": {"$range": [0, 2]}, "as": "j",
                          "in": {"$add": [{"$multiply": ["$$i", 10]}, "$$j"]}}}}}}},
        {"$project": {"rg": 1, "grid": 1}}]""",
    // object surgery: $mergeObjects null absorption, $objectToArray /
    // $arrayToObject round-trip, $getField on a literal-dotted name
    """[{"$addFields": {"o": {"x": "$a", "y.z": 2}}},
        {"$addFields": {"mo": {"$mergeObjects": [null, "$o", {"w": 9}]},
         "ota": {"$objectToArray": "$o"},
         "rt": {"$arrayToObject": {"$objectToArray": "$o"}},
         "gf": {"$getField": {"field": "y.z", "input": "$o"}}}},
        {"$project": {"mo": 1, "ota": 1, "rt": 1, "gf": 1}}]""",
    // $replaceWith a computed wrapper document + $$ROOT embedding
    """[{"$match": {"a": {"$ne": null}}},
        {"$replaceWith": {"id": "$_id", "wrapped": {"val": "$a"},
                          "keys": {"$objectToArray": {"k": "$s"}}}}]""",
    // arithmetic sign/type corners: $mod sign follows the dividend, $pow
    // integral cases, $abs on negatives, integer division result type
    """[{"$match": {"a": {"$ne": null}}},
        {"$addFields": {"m1": {"$mod": ["$a", 3]},
                        "m2": {"$mod": [{"$multiply": ["$a", -1]}, 3]},
                        "p2": {"$pow": ["$a", 2]},
                        "ab": {"$abs": {"$subtract": [0, "$a"]}}}},
        {"$project": {"m1": 1, "m2": 1, "p2": 1, "ab": 1}}]""",
    // string surgery: $split, $strLenCP, $ltrim/$rtrim with chars
    """[{"$addFields": {"sp": {"$split": ["$s", "a"]},
         "ln": {"$strLenCP": "$s"},
         "lt": {"$ltrim": {"input": "$s", "chars": "Ab"}},
         "rt": {"$rtrim": {"input": "$s", "chars": "a"}}}},
        {"$project": {"sp": 1, "ln": 1, "lt": 1, "rt": 1}}]""",
    // conversions: $toBool, $toLong on doubles, $toDate on millis,
    // date minus date (millis) and date minus number
    """[{"$match": {"a": {"$ne": null}}},
        {"$addFields": {"tb": {"$toBool": "$a"},
         "tl": {"$toLong": "$b"},
         "dd": {"$subtract": ["$d", {"$toDate": 1700000000000}]},
         "dn": {"$dateToString": {"date": {"$subtract": ["$d", 3600000]},
                                  "format": "%Y-%m-%d %H:%M"}}}},
        {"$project": {"tb": 1, "tl": 1, "dd": 1, "dn": 1}}]""",
    // $cond array form + n-ary bitwise
    """[{"$match": {"a": {"$ne": null}}},
        {"$addFields": {"c": {"$cond": [{"$gt": ["$a", 2]}, "big", "small"]},
         "ba": {"$bitAnd": ["$a", 6, 3]}, "bo": {"$bitOr": ["$a", 8]},
         "bx": {"$bitXor": ["$a", 5]}}},
        {"$project": {"c": 1, "ba": 1, "bo": 1, "bx": 1}}]""",
    // compound group _id document + $push of computed documents
    """[{"$match": {"a": {"$ne": null}}},
        {"$group": {"_id": {"hi": {"$gt": ["$a", 2]}, "par": {"$mod": ["$a", 2]}},
                    "docs": {"$push": {"v": "$a"}}}},
        {"$project": {"docs": 1}}]""",
    // match language: $all, $size, $exists false, nested $elemMatch
    """[{"$match": {"arr": {"$all": [1, 2]}}}, {"$project": {"arr": 1}}]""",
    """[{"$match": {"arr": {"$size": 1}}}, {"$project": {"arr": 1}}]""",
    """[{"$match": {"arr": {"$exists": false}}}, {"$project": {"s": 1}}]""",
    """[{"$match": {"arr": {"$elemMatch": {"$gte": 2, "$lt": 8}}}},
        {"$project": {"arr": 1}}]""",
    // HOFs over a null/missing array input stay null
    """[{"$addFields": {"m": {"$map": {"input": "$arr", "as": "e",
                                       "in": {"$add": ["$$e", 1]}}},
         "f": {"$filter": {"input": "$arr", "as": "e",
                           "cond": {"$gt": ["$$e", 1]}}},
         "r": {"$reduce": {"input": "$arr", "initialValue": 0,
                           "in": {"$add": ["$$value", "$$this"]}}}}},
        {"$project": {"mNull": {"$eq": ["$m", null]}, "m": 1,
                      "fNull": {"$eq": ["$f", null]},
                      "rNull": {"$eq": ["$r", null]}}}]""",
    // $zip shortest + longestLength with defaults
    """[{"$addFields": {"z1": {"$zip": {"inputs": [["$a", 2], [10, 20, 30]]}},
         "z2": {"$zip": {"inputs": [[1], [10, 20]],
                         "useLongestLength": true, "defaults": [0, -1]}}}},
        {"$project": {"z1": 1, "z2": 1}}]""",
    // $convert with onError/onNull routing + $ifNull n-ary
    """[{"$addFields": {"c1": {"$convert": {"input": "$s", "to": "int",
                                            "onError": -7}},
         "c2": {"$convert": {"input": "$a", "to": "string", "onNull": "none"}},
         "i3": {"$ifNull": ["$nope", "$alsonope", "fallback"]}}},
        {"$project": {"c1": 1, "c2": 1, "i3": 1}}]""",
    // $let shadowing an outer variable
    """[{"$addFields": {"v": {"$let": {"vars": {"t": 10},
          "in": {"$let": {"vars": {"t": 3},
                          "in": {"$multiply": ["$$t", "$$t"]}}}}}}},
        {"$project": {"v": 1}}]""",
    // array search / set ops / reversal
    """[{"$addFields": {"ix": {"$indexOfArray": ["$arr", 2]},
         "rv": {"$reverseArray": "$arr"},
         "si": {"$setIntersection": ["$arr", [1, 2, 9]]},
         "ae": {"$allElementsTrue": [["$a", 1]]}}},
        {"$project": {"ix": 1, "rv": 1, "si": 1, "ae": 1}}]""",
    // regex find/replace + code-point index
    """[{"$addFields": {"rf": {"$regexFind": {"input": "$s", "regex": "a+"}},
         "ra": {"$replaceAll": {"input": "$s", "find": "a",
                                "replacement": "_"}},
         "ic": {"$indexOfCP": [{"$toLower": "$s"}, "a"]}}},
        {"$project": {"rf": 1, "ra": 1, "ic": 1}}]""",
    // $dateTrunc to day/hour + $dateDiff weeks
    """[{"$addFields": {"td": {"$dateTrunc": {"date": "$d", "unit": "day"}},
         "th": {"$dateTrunc": {"date": "$d", "unit": "hour"}},
         "dw": {"$dateDiff": {"startDate": {"$dateTrunc": {"date": "$d",
                                            "unit": "year"}},
                              "endDate": "$d", "unit": "week"}}}},
        {"$project": {"td": {"$dateToString": {"date": "$td",
                             "format": "%Y-%m-%d %H:%M"}},
                      "th": {"$dateToString": {"date": "$th",
                             "format": "%Y-%m-%d %H:%M"}}, "dw": 1}}]""",
    // $unwind includeArrayIndex + preserveNullAndEmptyArrays over the
    // null-bearing rows (row 5 has no arr, row 2 an empty one)
    """[{"$unwind": {"path": "$arr", "includeArrayIndex": "i",
                     "preserveNullAndEmptyArrays": true}},
        {"$project": {"arr": 1, "i": 1}}]""",
    // $shift backward with a default
    """[{"$setWindowFields": {"sortBy": {"_id": 1},
          "output": {"prev2": {"$shift": {"output": "$a", "by": -2,
                                          "default": -99}}}}},
        {"$project": {"prev2": 1}}]""",
    // $bucketAuto: even-count buckets with accumulator outputs
    """[{"$match": {"a": {"$ne": null}}},
        {"$bucketAuto": {"groupBy": "$a", "buckets": 2,
          "output": {"n": {"$sum": 1}, "hi": {"$max": "$a"}}}}]""",
    // $sample: the deterministic hash subset must pick the SAME rows in
    // both engines
    """[{"$sample": {"size": 3}}, {"$project": {"a": 1}}]""",
    // windowed N-family over RANGE frames (value-distance bounds)
    """[{"$match": {"a": {"$ne": null}}},
        {"$setWindowFields": {"sortBy": {"a": 1},
          "output": {"mn": {"$minN": {"input": "$b", "n": 2},
                            "window": {"range": [-2, 2]}},
                     "tp2": {"$topN": {"output": "$_id",
                                       "sortBy": {"b": -1, "_id": 1}, "n": 2},
                             "window": {"range": ["unbounded", "current"]}}}}},
        {"$project": {"mn": 1, "tp2": 1}}]""",
    // $fill: linear interpolation and constant value together
    """[{"$match": {"a": {"$ne": null}}},
        {"$fill": {"sortBy": {"a": 1},
                   "output": {"b": {"method": "linear"},
                              "s": {"value": "filled"}}}},
        {"$project": {"b": 1, "s": 1}}]""",
    // $densify: per-partition bounds on the numeric field
    """[{"$match": {"a": {"$ne": null}}},
        {"$project": {"g": {"$gt": ["$a", 2]}, "a": 1}},
        {"$densify": {"field": "a", "partitionByFields": ["g"],
                      "range": {"step": 2, "bounds": "partition"}}},
        {"$project": {"g": 1, "a": 1}}]""",
    // group firstN/lastN in encounter order (single-partition corpus)
    """[{"$group": {"_id": null, "f2": {"$firstN": {"input": "$a", "n": 2}},
                    "l2": {"$lastN": {"input": "$a", "n": 2}},
                    "mx2": {"$maxN": {"input": "$a", "n": 2}}}}]""",
    // windowed exact percentile/median over document frames
    """[{"$setWindowFields": {"sortBy": {"a": 1},
          "output": {"p": {"$percentile": {"input": "$b", "p": [0.25, 0.75],
                                           "method": "approximate"},
                           "window": {"documents": ["unbounded", "current"]}},
                     "md": {"$median": {"input": "$b",
                                        "method": "approximate"},
                            "window": {"documents": [-2, "current"]}}}}},
        {"$project": {"p": 1, "md": 1}}]""",
    // $redact $$DESCEND walks nested arrays
    """[{"$addFields": {"items": [{"level": 1, "v": "x"}, {"level": 9, "v": "y"}]}},
        {"$redact": {"$cond": [{"$or": [{"$not": ["$level"]},
                                        {"$lt": ["$level", 5]}]},
                               "$$DESCEND", "$$PRUNE"]}},
        {"$project": {"items": 1}}]""",
    // windowed N-family: minN/firstN/top/bottomN over document frames
    """[{"$setWindowFields": {"sortBy": {"a": 1},
          "output": {"mn2": {"$minN": {"input": "$b", "n": 2},
                             "window": {"documents": ["unbounded", "current"]}},
                     "f2": {"$firstN": {"input": "$a", "n": 2},
                            "window": {"documents": [-2, "current"]}},
                     "tp": {"$top": {"output": "$_id",
                                     "sortBy": {"b": -1, "_id": 1}}},
                     "bn2": {"$bottomN": {"output": "$_id",
                                          "sortBy": {"b": 1, "_id": 1},
                                          "n": 2}}}}},
        {"$project": {"mn2": 1, "f2": 1, "tp": 1, "bn2": 1}}]""",
    // range-window calculus: $integral over value-distance frames (both the
    // growing and the reversed shrinking form) must agree between engines
    """[{"$match": {"a": {"$ne": null}}},
        {"$setWindowFields": {"sortBy": {"a": 1},
          "output": {"back": {"$integral": {"input": "$b"},
                              "window": {"range": [-3, "current"]}},
                     "fwd": {"$integral": {"input": "$b"},
                             "window": {"range": ["current", "unbounded"]}}}}},
        {"$project": {"back": {"$round": ["$back", 6]},
                      "fwd": {"$round": ["$fwd", 6]}}}]""",
    // numeric truthy $project flags (1.0 / 2 are inclusion, 0.0 exclusion)
    """[{"$project": {"_id": 2, "a": 1.0, "b": true}}]""",
    """[{"$project": {"_id": 0.0, "s": 3}}]""",
    // two-arg math with a null/missing second operand stays null
    """[{"$addFields": {"p": {"$pow": [2, "$nope"]},
         "lg": {"$log": [8, "$nope"]}, "at": {"$atan2": [1, "$nope"]}}},
        {"$project": {"p": {"$ifNull": ["$p", "isnull"]},
                      "lg": {"$ifNull": ["$lg", "isnull"]},
                      "at": {"$ifNull": ["$at", "isnull"]}}}]""",
    """[{"$setWindowFields": {"sortBy": {"a": 1},
          "output": {"ema": {"$expMovingAvg": {"input": "$b", "alpha": 0.4}},
                     "med": {"$median": {"input": "$a",
                                         "method": "approximate"}}}}},
        {"$project": {"ema": {"$round": ["$ema", 6]}, "med": 1}}]""",
    // group: mergeObjects and sorted addToSet views
    """[{"$group": {"_id": null, "ats": {"$addToSet": "$s"}}},
        {"$project": {"ats": {"$sortArray": {"input": "$ats", "sortBy": 1}}}}]""",
    """[{"$group": {"_id": {"$gt": ["$a", 2]}, "n": {"$sum": 1},
                    "sumsq": {"$sum": {"$multiply": ["$a", "$a"]}}}}]""",
    // deduplicate (expression form)
    """[{"$deduplicate": {"expression": "$s"}}, {"$count": "n"}]""",
    // getField/setField over computed objects
    """[{"$addFields": {"obj": {"x": "$a"}}},
        {"$addFields": {"sf": {"$setField": {"field": "y", "input": "$obj",
                                             "value": 5}}}},
        {"$project": {"sf": 1}}]""",
    // date family (typed sees a timestamp column, dynamic the ISO string)
    """[{"$addFields": {"y": {"$year": "$d"}, "m": {"$month": "$d"},
         "dd": {"$dayOfMonth": "$d"}, "dw": {"$dayOfWeek": "$d"},
         "iw": {"$isoWeek": "$d"}, "hh": {"$hour": "$d"}}},
        {"$project": {"y": 1, "m": 1, "dd": 1, "dw": 1, "iw": 1, "hh": 1}}]""",
    """[{"$addFields": {"ds": {"$dateToString": {"date": "$d",
         "format": "%Y-%m-%d %H:%M"}}}},
        {"$project": {"ds": 1}}]""",
    """[{"$addFields": {"plus": {"$dateAdd": {"startDate": "$d",
         "unit": "day", "amount": 10}},
         "minus": {"$dateSubtract": {"startDate": "$d",
         "unit": "hour", "amount": 5}}}},
        {"$project": {"plus": 1, "minus": 1}}]""",
    """[{"$addFields": {"age": {"$dateDiff": {"startDate": "$d",
         "endDate": "2024-12-31T00:00:00Z", "unit": "day"}}}},
        {"$project": {"age": 1}}]""",
    """[{"$match": {"$expr": {"$gte": ["$d",
          {"$dateFromString": {"dateString": "2024-01-01T00:00:00Z"}}]}}},
        {"$project": {"_id": 1}}]""")

  private val catalogPipelines = Seq(
    """[{"$lookup": {"from": "dim", "localField": "a", "foreignField": "k",
          "as": "m"}}, {"$project": {"m": 1, "a": 1}}]""",
    """[{"$lookup": {"from": "dim", "localField": "a", "foreignField": "k",
          "as": "m", "unwind": true}},
        {"$project": {"nm": "$m.name", "a": 1}}]""",
    """[{"$unionWith": {"coll": "dim", "pipeline": [
          {"$project": {"_id": {"$toString": "$k"}, "a": "$nxt"}}]}},
        {"$project": {"a": 1}}]""",
    """[{"$graphLookup": {"from": "dim", "startWith": "$a",
          "connectFromField": "nxt", "connectToField": "k",
          "as": "chain", "maxDepth": 2, "depthField": "d"}},
        {"$unwind": "$chain"},
        {"$project": {"ck": "$chain.k", "d": "$chain.d"}}]""",
    // round 9: THETA-correlated pipeline $lookup — the dynamic engine used
    // to refuse non-$eq correlation outright; now it broadcasts the dim
    // side (size-guarded) and agrees with the typed guarded-BNLJ plan
    """[{"$lookup": {"from": "dim", "let": {"la": {"$ifNull": ["$a", 0]}},
          "pipeline": [{"$match": {"$expr": {"$lt": ["$k", "$$la"]}}},
                       {"$project": {"k": 1, "nxt": 1}}, {"$sort": {"k": -1}}],
          "as": "m"}},
        {"$project": {"_id": 1, "m": 1, "n": {"$size": "$m"}}}]""",
    """[{"$lookup": {"from": "dim", "let": {"la": {"$ifNull": ["$a", 0]}},
          "pipeline": [{"$match": {"$expr": {"$gte": ["$k", "$$la"]}}},
                       {"$project": {"k": 1}}, {"$sort": {"k": 1}}, {"$limit": 2}],
          "as": "m", "unwind": true}},
        {"$project": {"_id": 1, "mk": "$m.k"}}]""",
    // cycle-safe graphLookup over "g" (1->3->4->7->1, 5->5): first-visit
    // depths, restrictSearchWithMatch
    """[{"$graphLookup": {"from": "g", "startWith": "$a",
          "connectFromField": "nxt", "connectToField": "k",
          "as": "ch", "maxDepth": 3, "depthField": "dd"}},
        {"$unwind": "$ch"},
        {"$project": {"_id": 1, "ck": "$ch.k", "d": "$ch.dd"}}]""",
    """[{"$graphLookup": {"from": "g", "startWith": "$a",
          "connectFromField": "nxt", "connectToField": "k",
          "as": "ch", "maxDepth": 2,
          "restrictSearchWithMatch": {"tag": {"$ne": "c"}}}},
        {"$unwind": {"path": "$ch", "preserveNullAndEmptyArrays": true}},
        {"$project": {"_id": 1, "ck": "$ch.k"}}]""")

  // campaign batch 7 (round-7 verdict item 8): $setWindowFields range+unit
  // on date axes, $convert corner codes, $redact inside $facet, all-null
  // partitions, $filter limit edges
  private val batch7 = Seq(
    // $filter limit: null limit = NO limit (Mongo), field-driven limit
    """[{"$addFields": {"f": {"$filter": {"input": "$arr", "as": "x",
         "cond": {"$gte": ["$$x", 1]}, "limit": null}}}},
        {"$project": {"f": 1}}]""",
    """[{"$addFields": {"f": {"$filter": {"input": "$arr", "as": "x",
         "cond": {"$gte": ["$$x", 1]}, "limit": "$missing"}}}},
        {"$project": {"f": 1}}]""",
    // $convert corner codes: double->int truncation, long->bool, onNull
    """[{"$addFields": {"i": {"$convert": {"input": "$b", "to": "int",
         "onNull": -1}}, "bl": {"$convert": {"input": "$a", "to": "bool",
         "onNull": false}}, "st": {"$convert": {"input": "$a", "to": "string",
         "onNull": "none"}}}},
        {"$project": {"i": 1, "bl": 1, "st": 1}}]""",
    """[{"$addFields": {"e": {"$convert": {"input": "$s", "to": "double",
         "onError": -99}}}}, {"$project": {"e": 1}}]""",
    // $redact inside $facet (sub-pipeline isolation)
    """[{"$facet": {"kept": [{"$redact": {"$cond": [{"$gt": ["$a", 2]},
         "$$KEEP", "$$PRUNE"]}}, {"$project": {"_id": 1}}],
         "n": [{"$count": "n"}]}}]""",
    // all-null partition: s is null/missing for _id 5 — the null partition
    // must still rank and aggregate (sum of all-null b = 0 per Mongo)
    """[{"$setWindowFields": {"partitionBy": "$s", "sortBy": {"_id": 1},
         "output": {"r": {"$rank": {}}, "sb": {"$sum": "$b"}}}},
        {"$project": {"r": 1, "sb": 1}}]""",
    // date-axis range window with unit (30 trailing days)
    """[{"$setWindowFields": {"partitionBy": null, "sortBy": {"d": 1},
         "output": {"c": {"$count": {},
           "window": {"range": [-30, 0], "unit": "day"}}}}},
        {"$project": {"c": 1}}]""",
    """[{"$setWindowFields": {"partitionBy": null, "sortBy": {"d": 1},
         "output": {"mb": {"$min": "$b",
           "window": {"range": [0, 45], "unit": "day"}}}}},
        {"$project": {"mb": 1}}]""",
    // number-ish axis: range window over a column WITH nulls in the axis
    """[{"$match": {"a": {"$ne": null}}},
        {"$setWindowFields": {"partitionBy": null, "sortBy": {"a": 1},
         "output": {"c": {"$count": {}, "window": {"range": [-2, 2]}}}}},
        {"$project": {"c": 1}}]""",
    // group over the all-null field of an all-null-key partition
    """[{"$group": {"_id": "$missingEverywhere",
         "mx": {"$max": "$nothing"}, "n": {"$sum": 1}}}]""",
    // $sortArray on documents nested under $facet (r6 campaign follow-on)
    """[{"$facet": {"sorted": [{"$project": {"sa": {"$sortArray": {
         "input": "$arr", "sortBy": -1}}}}]}}]""")

  // campaign batch 8: ops with zero prior corpus coverage — $regexFindAll,
  // field-literal $setField/$unsetField, $setEquals, ISO week parts, bit
  // ops, $dateToParts/$dateFromParts overflow, negative round/trunc place,
  // CP string ops, negative $range step, $reduce over null
  private val batch8 = Seq(
    """[{"$project": {"m": {"$regexFindAll": {"input": "$s", "regex": "a",
         "options": "i"}}}}]""",
    """[{"$project": {"m": {"$regexFindAll": {"input": "$s",
         "regex": "(a)(l?)", "options": "i"}}}}]""",
    // field-LITERAL semantics: "x.y" is one field name, not a path
    """[{"$project": {"o": {"$setField": {"field": "x.y",
         "input": {"p": 1}, "value": "$a"}}}},
        {"$project": {"v": {"$getField": {"field": "x.y", "input": "$o"}}}}]""",
    """[{"$project": {"o": {"$unsetField": {"field": "p",
         "input": {"p": 1, "q": "$a"}}}}}]""",
    """[{"$project": {"eq": {"$setEquals": [{"$ifNull": ["$arr", []]},
         {"$concatArrays": [{"$ifNull": ["$arr", []]},
           {"$ifNull": ["$arr", []]}]}]}, "sub": {"$setIsSubset":
         [{"$literal": [1, 1]}, {"$ifNull": ["$arr", []]}]}}}]""",
    """[{"$project": {"w": {"$isoWeek": "$d"}, "wy": {"$isoWeekYear": "$d"},
         "dw": {"$isoDayOfWeek": "$d"}}}]""",
    """[{"$project": {"ba": {"$bitAnd": ["$a", 6]}, "bo": {"$bitOr":
         ["$a", 9]}, "bx": {"$bitXor": ["$a", 3]}, "bn": {"$bitNot": "$a"}}}]""",
    """[{"$project": {"p": {"$dateToParts": {"date": "$d"}}}}]""",
    """[{"$project": {"p": {"$dateToParts": {"date": "$d",
         "iso8601": true}}}}]""",
    // carry-overflow: month 14 rolls the year, day 0 backs into prior month
    """[{"$project": {"t1": {"$dateFromParts": {"year": 2023, "month": 14,
         "day": 1}}, "t2": {"$dateFromParts": {"year": 2024, "month": 3,
         "day": 0}}}}]""",
    """[{"$project": {"r": {"$round": ["$b", -1]}, "t": {"$trunc":
         [{"$multiply": ["$b", 10]}, -2]}}}]""",
    """[{"$project": {"c": {"$substrCP": ["$s", 1, 3]}, "i": {"$indexOfCP":
         ["$s", "a", 1, 4]}}}]""",
    """[{"$project": {"g": {"$range": [5, 0, -2]}, "e": {"$range":
         [0, 0, 1]}}}]""",
    """[{"$project": {"r": {"$reduce": {"input": "$missing",
         "initialValue": 0, "in": {"$add": ["$$value", "$$this"]}}}}}]""")

  // batch 9: byte-indexed string ops — ASCII windows, multi-byte offsets,
  // past-the-end clamps, 2/3/4-arg $indexOfBytes arities
  private val batch9 = Seq(
    """[{"$project": {"sb": {"$substrBytes": ["$s", 1, 3]}}}]""",
    """[{"$project": {"sb": {"$substrBytes": ["$s", 100, 5]}}}]""",
    """[{"$project": {"sb": {"$substrBytes": ["$s", 2, 100]}}}]""",
    """[{"$project": {"sb": {"$substrBytes": [{"$concat": ["é", "x"]},
         0, 2]}}}]""",
    """[{"$project": {"ib": {"$indexOfBytes": ["$s", "a"]}}}]""",
    """[{"$project": {"ib": {"$indexOfBytes": ["$s", "a", 1]}}}]""",
    """[{"$project": {"ib": {"$indexOfBytes": ["$s", "a", 1, 4]}}}]""",
    """[{"$project": {"ib": {"$indexOfBytes": ["$s", "a", 100]}}}]""",
    // 'é' is two UTF-8 bytes: byte index = code-point index + 1 past it
    """[{"$project": {"ib": {"$indexOfBytes": [{"$concat": ["é", "$s"]},
         "a"]}, "ic": {"$indexOfCP": [{"$concat": ["é", "$s"]}, "a"]}}}]""",
    """[{"$project": {"bl": {"$strLenBytes": {"$concat": ["é", "$s"]}},
         "cl": {"$strLenCP": {"$concat": ["é", "$s"]}}}}]""",
    // deprecated $substr = byte-indexed $substrBytes, negative count = rest
    """[{"$project": {"sb": {"$substr": ["$s", 1, 3]}}}]""",
    """[{"$project": {"sb": {"$substr": ["$s", 1, -1]}}}]""",
    """[{"$project": {"sb": {"$substr": [{"$concat": ["é", "x"]}, 0, 2]}}}]""",
    // $binarySize / $bsonSize: sizes agree across the schema/schemaless
    // models (integrals = int64, instants = BSON dates, typed null fields
    // == missing — rows with nulls are the interesting case for $$ROOT)
    """[{"$project": {"n": {"$binarySize": {"$concat": ["é", "$s"]}}}}]""",
    """[{"$match": {"_id": {"$lt": "5"}}},
        {"$project": {"n": {"$bsonSize": {"k": "$a", "s2": "$s"}}}}]""",
    """[{"$match": {"_id": {"$lt": "5"}}},
        {"$project": {"n": {"$bsonSize": {"xs": "$arr", "w": {"$literal": true}}}}}]""",
    """[{"$project": {"n": {"$bsonSize": "$$ROOT"}}}]""")

  // batch 10: leaf ops the corpus never probed — trig/inverse-trig null
  // propagation, date parts incl. leap day, $replaceOne rules, array
  // $first/$last on empty/missing, $and/$or null-falsy, $toInt/$toLong
  // truncation toward zero
  private val batch10 = Seq(
    """[{"$project": {"x": {"$round": [{"$sin": "$b"}, 6]},
         "y": {"$round": [{"$cos": "$b"}, 6]},
         "z": {"$round": [{"$tan": "$a"}, 6]}}}]""",
    """[{"$project": {"x": {"$round": [{"$asin": {"$divide": ["$a", 10]}}, 6]},
         "y": {"$round": [{"$atan": "$b"}, 6]},
         "z": {"$round": [{"$atan2": ["$b", "$a"]}, 6]}}}]""",
    """[{"$project": {"x": {"$round": [{"$sinh": {"$divide": ["$a", 10]}}, 6]},
         "y": {"$round": [{"$cosh": {"$divide": ["$a", 10]}}, 6]},
         "z": {"$round": [{"$tanh": "$b"}, 6]}}}]""",
    """[{"$project": {"x": {"$round": [{"$ln": {"$abs": {"$add": ["$b", 10]}}}, 6]},
         "y": {"$round": [{"$radiansToDegrees": "$b"}, 6]},
         "z": {"$round": [{"$degreesToRadians": "$a"}, 6]}}}]""",
    """[{"$project": {"doy": {"$dayOfYear": "$d"}, "w": {"$week": "$d"},
         "mi": {"$minute": "$d"}, "se": {"$second": "$d"},
         "ms": {"$millisecond": "$d"}}}]""",
    """[{"$project": {"doy": {"$dayOfYear": "$missing"},
         "w": {"$week": "$missing"}, "ms": {"$millisecond": "$missing"}}}]""",
    """[{"$project": {"r1": {"$replaceOne": {"input": "$s", "find": "a",
         "replacement": "_"}},
         "r2": {"$replaceOne": {"input": "$s", "find": "zzz",
         "replacement": "_"}},
         "r3": {"$replaceOne": {"input": "$missing", "find": "a",
         "replacement": "_"}}}}]""",
    """[{"$project": {"r": {"$replaceOne": {"input": {"$concat": ["é", "$s"]},
         "find": "é", "replacement": "aé"}}}}]""",
    """[{"$project": {"f": {"$first": "$arr"}, "l": {"$last": "$arr"}}}]""",
    """[{"$project": {"x": {"$and": ["$a", "$b"]}, "y": {"$or": ["$b", false]},
         "z": {"$and": [1, "$missing"]}}}]""",
    """[{"$project": {"i": {"$toInt": "$b"}, "lg": {"$toLong": "$b"},
         "d2": {"$toDouble": "$a"}}}]""",
    """[{"$project": {"i": {"$toInt": {"$multiply": ["$b", -1]}},
         "lg": {"$toLong": {"$multiply": ["$b", -1]}}}}]""",
    // fuzzer regression: including a nonexistent field is legal and yields
    // nothing (typed engine used to throw UNRESOLVED_COLUMN)
    """[{"$project": {"nope": 1, "a": 1}}]""",
    """[{"$project": {"nope.deep": 1, "s": 1, "other": true}}]""",
    // fuzzer regression: missing evaluates as null in aggregation
    // comparisons — $lte[null, missing] must be TRUE in both engines
    // (dynamic ranked missing BELOW null and filtered differently)
    """[{"$match": {"$expr": {"$lte": [{"$multiply": ["$b", "$b"]}, "$b"]}}},
        {"$project": {"_id": 1}}]""",
    """[{"$project": {"c0": {"$cmp": ["$b", null]},
         "c1": {"$gte": ["$b", "$b"]}, "c2": {"$lt": ["$b", 0]}}}]""",
    // fuzzer regression: array ops over a path REMOVED by $unset — Mongo
    // yields null; the typed engine used to fail analysis (element_at on
    // the VOID missing literal)
    """[{"$unset": "arr"},
        {"$project": {"x": {"$arrayElemAt": ["$arr", 0]},
          "y": {"$size": "$arr"},
          "z": {"$ifNull": [{"$arrayElemAt": ["$arr", 1]}, 9]}}}]""",
    // fuzzer regression (seeds 7/99/1234): $sort on a path removed by
    // $unset must tie (missing==null) — Spark's ResolveMissingReferences
    // used to resurrect the dropped column and sort by its ghost values
    """[{"$unset": "b"}, {"$sort": {"b": 1, "_id": 1}}, {"$limit": 5},
        {"$project": {"_id": 1}}]""",
    """[{"$unset": "b"}, {"$sort": {"b": -1, "_id": -1}}, {"$limit": 3},
        {"$project": {"_id": 1}}]""",
    // fuzzer regression: $unwind of a path removed by $unset — default
    // drops every doc, preserve keeps them unchanged (typed engine used
    // to fail analysis on posexplode of the absent column)
    """[{"$unset": "arr"}, {"$unwind": "$arr"},
        {"$project": {"_id": 1}}]""",
    """[{"$unset": "arr"},
        {"$unwind": {"path": "$arr", "preserveNullAndEmptyArrays": true}},
        {"$project": {"_id": 1, "a": 1}}]""",
    // $score / $scoreFusion (Mongo 8.2/8.1): per-pipeline minMax and
    // sigmoid normalization, weighted sum / nPipelines, absent docs = 0
    """[{"$score": {"score": {"$ifNull": ["$a", 0]},
         "normalization": "sigmoid"}},
        {"$project": {"_id": 1, "sc": {"$round": [{"$meta": "score"}, 6]}}}]""",
    // ADVICE r8: null/missing/non-numeric score — the typed engine's
    // cast(DoubleType) yields SQL null; dynamic must NOT coerce to 0.0
    // via JsonNode.doubleValue (NullNode/MissingNode/TextNode all 0.0)
    """[{"$score": {"score": "$nope"}},
        {"$project": {"_id": 1, "sc": {"$meta": "score"}}}]""",
    """[{"$score": {"score": "$a", "normalization": "sigmoid"}},
        {"$project": {"_id": 1, "sc": {"$round": [{"$meta": "score"}, 6]}}}]""",
    """[{"$score": {"score": "$s", "normalization": "minMaxScaler"}},
        {"$project": {"_id": 1, "sc": {"$meta": "score"}}}]""",
    """[{"$scoreFusion": {"input": {"pipelines": {
          "pa": [{"$match": {"a": {"$gte": 0}}},
                 {"$score": {"score": {"$ifNull": ["$a", 0]}}}],
          "pb": [{"$score": {"score": {"$strLenCP": {"$ifNull": ["$s", ""]}}}}]},
          "normalization": "minMaxScaler"},
         "combination": {"weights": {"pa": 3}}}},
        {"$project": {"_id": 1, "sc": {"$round": [{"$meta": "score"}, 6]}}}]""",
    """[{"$project": {"x": {"$lte": ["$a", 3]}, "y": {"$gte": ["$b", 2.5]},
         "z": {"$ne": ["$a", "$b"]}}}]""",
    // catfuzz #4 (round 9): $shift default must fill ONLY out-of-partition
    // positions — an in-partition data null (a of _id 5) stays null; the
    // typed engine used to coalesce data nulls into the default
    """[{"$setWindowFields": {"partitionBy": null, "sortBy": {"_id": 1},
         "output": {"sh0": {"$shift": {"output": "$a", "by": 0, "default": -1}},
                    "shp": {"$shift": {"output": "$a", "by": 1, "default": -1}},
                    "shm": {"$shift": {"output": "$a", "by": -2, "default": -99}}}}},
        {"$project": {"sh0": 1, "shp": 1, "shm": 1}}]""")

  test("typed and dynamic engines agree on the differential pipeline corpus") {
    pipelines.foreach(agree)
  }

  test("_id-only $group is MongoDB's distinct keys in both engines") {
    Seq("""[{"$group": {"_id": "$s"}}]""",
      """[{"$group": {"_id": {"$mod": ["$a", 2]}}}]""",
      """[{"$group": {"_id": null}}]""").foreach(agree)
    // Alpha, beta, Gamma gamma, delta, eta and the null key
    assert(dynOut("""[{"$group": {"_id": "$s"}}]""").size == 6)
  }

  test("$setKey stringification parity: scalars via cast, objects/arrays as compact JSON") {
    import graft.Pipeline
    import graft.dynamic.DynPipeline
    def typedKeys(p: String): Set[Option[String]] =
      new Pipeline().run(typedDf, p).select("key").collect()
        .map(r => Option(r.getString(0))).toSet
    def dynKeys(p: String): Set[Option[String]] =
      DynPipeline.run(dynDf, p).select("key").collect()
        .map(r => Option(r.getString(0))).toSet
    Seq(
      """[{"$setKey": "$s"}]""",                       // string: raw, unquoted
      """[{"$setKey": "$a"}]""",                       // long + null/missing
      """[{"$setKey": "$b"}]""",                       // double incl. 0.0
      """[{"$setKey": "$arr"}]""",                     // array -> compact JSON
      """[{"$setKey": "$nope"}]""",                    // missing -> null key
      // object-valued key: the r8 verdict's flagged shape — Spark's struct
      // cast ("{1, x}") must NOT leak; both engines render {"i":...,"n":...}
      """[{"$setKey": {"i": "$_id", "n": {"$ifNull": ["$a", 0]}}}]""",
      // heterogeneous cond branches (object vs string) stay out: the typed
      // schema cannot union them — documented typed-engine constraint
      """[{"$setKey": {"$cond": [{"$gt": ["$a", 2]}, {"hi": "$_id"}, {"hi": "lo"}]}}]"""
    ).foreach { p =>
      val (t, d) = (typedKeys(p), dynKeys(p))
      assert(t == d, s"$p\n typed: $t\n dynamic: $d")
    }
  }

  test("campaign batch 10: trig, date parts, replaceOne, first/last, casts") {
    batch10.foreach(agree)
  }

  private val batch11 = Seq(
    // Mongo 7.0 $median/$percentile EXPRESSION forms over the arr field:
    // exact linear interpolation in both engines
    """[{"$project": {"m": {"$round": [{"$median":
         {"input": "$arr", "method": "approximate"}}, 6]},
         "p": {"$round": [{"$arrayElemAt": [{"$percentile":
         {"input": "$arr", "p": [0.25, 0.75], "method": "approximate"}}, 1]}, 6]}}}]""",
    // empty-array and missing inputs -> null in both engines
    """[{"$project": {"m": {"$median": {"input": [], "method": "approximate"}},
         "m2": {"$median": {"input": "$missing", "method": "approximate"}}}}]""",
    // interpolation between elements (p that lands mid-gap)
    """[{"$project": {"p": {"$percentile":
         {"input": "$arr", "p": [0.1, 0.5, 0.9], "method": "approximate"}}}}]""",
    // $sampleRate at its deterministic bounds
    """[{"$match": {"$sampleRate": 0}}, {"$project": {"_id": 1}}]""",
    """[{"$match": {"$sampleRate": 1}}, {"$project": {"_id": 1}}]""",
    // fuzzer regression (catfuzz r9): $count over EMPTY input emits NO
    // document (it's $group{_id:null} sugar, and a group over nothing has
    // no groups) — the dynamic engine fabricated {"n": 0}
    """[{"$match": {"a": {"$gt": 999}}}, {"$count": "n"}]""",
    """[{"$match": {"$expr": {"$lt": ["$b", -99]}}},
        {"$facet": {"fa": [{"$project": {"_id": 1}}],
                    "fb": [{"$count": "n"}]}}]""")

  test("campaign batch 11: $median/$percentile expression forms, $sampleRate bounds") {
    batch11.foreach(agree)
  }

  test("$toUUID (8.0): canonical lowercase on valid input, null propagation") {
    agree("""[{"$project": {
      "u": {"$toUUID": "550E8400-E29B-41D4-A716-446655440000"},
      "n": {"$toUUID": "$missing"}}}]""")
  }

  test("both engines REJECT $toUUID over malformed strings and non-strings") {
    for (bad <- Seq(""""not-a-uuid"""", """"550e8400e29b41d4a716446655440000"""", "5"))
      {
        val p = s"""[{"$$project": {"x": {"$$toUUID": $bad}}}]"""
        intercept[Exception](typedOut(p))
        intercept[Exception](dynOut(p))
      }
  }

  test("campaign batch 9: byte-indexed string ops agree across engines") {
    batch9.foreach(agree)
  }

  test("both engines REJECT $substrBytes that splits a UTF-8 code point or negative bounds") {
    def bothReject(p: String): Unit = {
      intercept[Exception](typedOut(p))
      intercept[Exception](dynOut(p))
    }
    bothReject("""[{"$project": {"x": {"$substrBytes":
      [{"$concat": ["é", "x"]}, 1, 1]}}}]""")
    bothReject("""[{"$project": {"x": {"$substrBytes": ["$s", -1, 2]}}}]""")
    bothReject("""[{"$project": {"x": {"$indexOfBytes": ["$s", "a", -1]}}}]""")
  }

  test("campaign batch 8: regexFindAll, field literals, ISO parts, bit ops, date overflow") {
    batch8.foreach(agree)
  }

  test("both engines REJECT $switch with no default and no matching branch") {
    val p = """[{"$project": {"x": {"$switch": {"branches":
      [{"case": {"$gt": ["$a", 100]}, "then": 1}]}}}}]"""
    intercept[Exception](typedOut(p))
    intercept[Exception](dynOut(p))
  }

  test("both engines REJECT $setEquals/$setIsSubset over null operands (Mongo errors)") {
    val eq = """[{"$project": {"x": {"$setEquals": ["$arr", "$arr"]}}}]"""
    val sub = """[{"$project": {"x": {"$setIsSubset": ["$arr", "$arr"]}}}]"""
    intercept[Exception](typedOut(eq))
    intercept[Exception](dynOut(eq))
    intercept[Exception](typedOut(sub))
    intercept[Exception](dynOut(sub))
  }

  test("campaign batch 7: window units, $convert corners, $redact in $facet, null partitions") {
    batch7.foreach(agree)
  }

  test("both engines REJECT $filter limit < 1 and number-minus-date") {
    def bothReject(p: String): Unit = {
      val t = intercept[Exception](typedOut(p))
      val d = intercept[Exception](dynOut(p))
      assert((t.getMessage + d.getMessage).nonEmpty)
    }
    bothReject("""[{"$addFields": {"f": {"$filter": {"input": "$arr",
      "as": "x", "cond": true, "limit": 0}}}}, {"$project": {"f": 1}}]""")
    bothReject("""[{"$addFields": {"w": {"$subtract": [5, "$d"]}}},
      {"$project": {"w": 1}}]""")
  }

  test("typed and dynamic engines agree on catalog stages (lookup/union/graph)") {
    catalogPipelines.foreach(agreeCat)
  }

  test("$geoNear agrees across engines: planar + spherical over the arr locations") {
    // only row 3's arr ([7,8]) is a valid 2-element location; the size-1,
    // size-3, empty and missing arrs must drop identically in both engines
    agree("""[{"$geoNear": {"near": [0, 0], "distanceField": "gd",
               "key": "arr", "query": {"a": {"$gte": 0}},
               "distanceMultiplier": 2}}]""")
    agree("""[{"$geoNear": {"near": [1, 1], "distanceField": "gd",
               "key": "arr", "spherical": true, "maxDistance": 1}}]""")
  }
}
